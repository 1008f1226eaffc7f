package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Beyond-reference surface (BASELINE.json north star).
  *
  * All vector math is pure `Column` HOFs (`transform`/`aggregate`) in
  * strict index order, so results are bit-reproducible on any engine
  * that evaluates the same IEEE-754 double ops — which is what lets the
  * DuckDB oracle verify them. No UDFs.
  *
  * Scale story:
  *  - [[topK]] (brute force) broadcasts the *query* set and streams the
  *    corpus — one pass, no shuffle of the corpus, cost O(|corpus|·|Q|·d).
  *    Right for small query batches over any corpus size.
  *  - [[lshTopK]] buckets the corpus once by random-hyperplane signs
  *    (an equi-join key), so each query only scans its bucket —
  *    cost O(|corpus|·d) to bucket + per-query bucket scans. The
  *    hyperplanes are derived from the portable hash, not an RNG, so
  *    plans are deterministic and reproducible across runs/engines.
  *
  * ==Why IVF/PQ and not a graph index (HNSW)==
  *
  * HNSW-class graph search is the single-node serving default in
  * FAISS/Lucene/Vespa, and it is deliberately NOT implemented here.
  * Graph ANN is sequential pointer-chasing over a mutable neighbor
  * list: each hop reads the previous hop's result, so a search is a
  * data-dependent chain of random lookups — the exact access pattern
  * a distributed, scan-oriented, whole-stage-codegen engine is worst
  * at. Expressed on Spark it would be either a per-hop shuffle join
  * (latency ∝ graph depth × shuffle latency) or a driver/executor
  * local in-memory graph (abandoning the DataFrame execution and the
  * oracle's replayability). The IVF family, by contrast, maps onto
  * the engine's native strengths: centroids are driver-trained and
  * broadcast as folded literals, cell assignment is a codegen'd
  * argmin projection, probing is an equi-join on a cell key, and PQ
  * codes shrink the shuffled payload to a few bytes per vector —
  * every stage is a set-oriented scan the optimizer can push into.
  * At 100 TB the index BUILD is the dominant cost and is itself a
  * distributed scan here; serving hot queries at sub-millisecond
  * latency is a single-node concern, and exporting the IVF-PQ
  * artifacts (centroids + codes) to such a server is the intended
  * hand-off. The recall ladder (flat → IVF → IVF-PQ → residual
  * IVF-PQ → refine, p56/p122) quantifies exactly what that trade
  * costs in recall at each rung.
  */
object Similarity {

  /** Sum of element-wise products in index order, as double.
    * Codegen'd native expression (see [[graft.functions.DotProductF]]);
    * bit-identical to `aggregate(zip_with(a, b, _*_), 0.0, _+_)`.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotF(a, b)

  /** L2 norm in index order, as double (codegen'd, bit-identical to
    * the `sqrt(aggregate(transform(...)))` HOF form).
    */
  def l2norm(a: Column): Column =
    graft.functions.VectorExpressions.l2normF(a)

  /** Cosine similarity of two equal-length float vectors. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine from a per-pair dot and per-row precomputed norms —
    * bitwise-identical to [[cosine]] (same final op order) but the
    * norms are computed once per row instead of once per pair, which
    * drops ~2/3 of the pairwise flops.
    */
  private def cosinePre(dotCol: Column, normA: Column, normB: Column): Column =
    dotCol / (normA * normB)

  /** Cosine with caller-precomputed norms (see [[cosinePre]]). */
  def dotOverNorms(a: Column, b: Column, normA: Column, normB: Column): Column =
    cosinePre(dot(a, b), normA, normB)

  /** Candidate order for top-k: better = higher sim, ties to the
    * smaller cand id — the same total order as the ranking window.
    */
  private val candBetter: Ordering[(Double, Long)] = Ordering.fromLessThan {
    case ((s1, c1), (s2, c2)) => s1 > s2 || (s1 == s2 && c1 < c2)
  }

  /** Map-side per-partition top-k: for each query, keep only that
    * partition's k best candidates (bounded heap, the window's exact
    * order), so the ranking shuffle moves P·|Q|·k survivor rows
    * instead of every scored pair — the global top-k is always
    * contained in the union of per-partition top-ks, so the final
    * window returns identical rows. This is the one deliberate
    * mapPartitions in the engine: Spark has no partial top-k
    * aggregate, and at corpus scale the unpruned shuffle of
    * |corpus|·|Q| scored rows is the operator's bottleneck.
    */
  private def prunePartitionTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val schema = scored.schema
    scored.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.PriorityQueue[(Double, Long, Row)]]
      // under candBetter "better" compares smaller, so the queue's max
      // (its dequeue head) is the WORST row — exactly the one to evict
      // once a query's heap exceeds k
      val worstFirst: Ordering[(Double, Long, Row)] =
        candBetter.on[(Double, Long, Row)](t => (t._1, t._2))
      it.foreach { row =>
        val h = heaps.getOrElseUpdate(row.getAs[Any]("query_id"),
          scala.collection.mutable.PriorityQueue.empty(worstFirst))
        h.enqueue((row.getAs[Double]("sim"), row.getAs[Long]("cand_id"), row))
        if (h.size > k) h.dequeue()
      }
      heaps.valuesIterator.flatMap(_.iterator.map(_._3))
    }(Encoders.row(schema))
  }

  /** Brute-force cosine top-k: for each query row, the k nearest
    * corpus rows (self-pairs excluded). `queries` must be small enough
    * to broadcast; the corpus is scored in place (broadcast join, no
    * corpus shuffle) and [[prunePartitionTopK]] keeps only each
    * partition's k best per query, so the final exact ranking window
    * shuffles P·|Q|·k rows — never the full scored cross product.
    */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = topK(corpus, queries, idCol, vecCol, k, None)

  /** [[topK]] with an optional similarity ceiling: pairs at or above
    * `simCeiling` are excluded BEFORE ranking — hard-negative mining
    * for contrastive training (the most-similar candidates that are
    * not near-duplicates of the query). The ceiling is a map-side
    * filter on the scored stream, so it reduces the ranking exchange
    * rather than adding work.
    */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, simCeiling: Option[Double]): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2norm(col(vecCol)).as("qn")))
    // corpora usually arrive as few dense files (1 input split ≪ cores);
    // the scoring loop is the hot path, so spread it across the cluster
    // before the broadcast join — the repartition moves only the corpus
    // vectors once, the scoring fan-out never shuffles.
    val c = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
        l2norm(col(vecCol)).as("cn"))
    val scored0 = c.join(q, col("query_id") =!= col("cand_id"))
      .withColumn("sim", cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .select(col("query_id"), col("cand_id"), col("sim"))
    val scored = simCeiling.fold(scored0)(t => scored0.filter(col("sim") < t))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    prunePartitionTopK(scored, k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("cand_id"),
        floor(col("sim") * 1e6).cast("long").as("sim_micro"))
  }

  /** IVF (inverted-file) approximate top-k: a deterministic coarse
    * quantizer — `centroidFilter` picks corpus rows to serve as
    * centroids — partitions the corpus into cells (each vector joins
    * its nearest centroid by cosine); a query probes only its own
    * cell. The other classic ANN layout next to hyperplane LSH
    * ([[lshTopK]]): cells adapt to the data distribution where LSH
    * buckets are data-oblivious.
    *
    * Scale: assignment is corpus × C broadcast-join work (C small);
    * probing shuffles on cell id only. A production build k-means-
    * refines the centroids; the structure (assign → cell equi-join →
    * exact re-rank) is identical.
    */
  /** @param nprobe how many nearest cells each QUERY probes (corpus
    *               vectors always live in exactly one cell). The
    *               classic IVF recall lever: raising it widens each
    *               query's candidate set linearly without touching the
    *               index — at corpus scale that trades k·|Q| extra
    *               cell scans for recall, never an extra corpus pass.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroidFilter: Column, k: Int,
      nprobe: Int = 1): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol,
      corpus.filter(centroidFilter)
        .select(col(idCol).as("cent_id"), col(vecCol).as("ce")),
      k, nprobe)

  /** [[ivfTopK]] over an EXPLICIT centroid table (cent_id, ce) — the
    * entry point for trained coarse quantizers: feed
    * [[centroidsFromMeans]] of a [[kmeansTrain]] run here and the IVF
    * cells adapt to the data distribution instead of sitting on seed
    * rows. Same plan shape: centroids broadcast, assignment collapses
    * map-side, probing shuffles on the cell id only.
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroidTable: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val centRows = centroidTable
      .select(col("cent_id").cast("long"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1).toSeq
    val cents = broadcast(centroidTable
      .select(col("cent_id"), col("ce"), l2norm(col("ce")).as("ce_n")))
    // Nearest-cell assignment: argmin (maxRank == 1) is the native
    // zero-exchange kernel projection over driver-held centroids (see
    // [[semanticCells]] — replaces crossJoin + vector-carrying
    // max(struct) aggregate); top-nprobe (query side) keeps the
    // bounded collect_list partial agg — a ranking window here would
    // hash-exchange all N·C scored rows just to keep rank ≤ nprobe.
    def assign(df: DataFrame, prefix: String, maxRank: Int): DataFrame = {
      val base = df
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(col(idCol).as(s"${prefix}_id"), col(vecCol).as(s"${prefix}v"),
          l2norm(col(vecCol)).as(s"${prefix}n"))
      lazy val scored = base.crossJoin(cents)
        .withColumn("__sim",
          cosinePre(dot(col(s"${prefix}v"), col("ce")), col(s"${prefix}n"),
            col("ce_n")))
      if (maxRank == 1) {
        // same (sim, −cent_id) total order — ties to the smaller id
        base.select(col(s"${prefix}_id"), col(s"${prefix}v"),
          col(s"${prefix}n"),
          centroidAssignExpr(centRows, col(s"${prefix}v"))
            .getField("cell").as("cent_id"))
      } else {
        // bounded top-nprobe per vector: collect the (sim, tie, cent)
        // triples (24 bytes each — never the vectors), sort the ≤C-slot
        // list, keep nprobe. first(v) is well-defined: every row in the
        // group carries the same vector.
        scored.groupBy(col(s"${prefix}_id"))
          .agg(
            slice(reverse(array_sort(collect_list(struct(col("__sim"),
              (-col("cent_id")).as("tie"), col("cent_id"))))), 1, maxRank)
              .as("top"),
            first(col(s"${prefix}v")).as(s"${prefix}v"),
            first(col(s"${prefix}n")).as(s"${prefix}n"))
          .select(col(s"${prefix}_id"), col(s"${prefix}v"), col(s"${prefix}n"),
            explode(col("top.cent_id")).as("cent_id"))
      }
    }
    val cellC = assign(corpus, "cand", 1)
    val cellQ = assign(queries, "query", nprobe)
    val scored = cellC.join(cellQ, Seq("cent_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim",
        cosinePre(dot(col("queryv"), col("candv")), col("queryn"), col("candn")))
      .select(col("query_id"), col("cand_id"), col("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    prunePartitionTopK(scored, k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("cand_id"),
        floor(col("sim") * 1e6).cast("long").as("sim_micro"))
  }

  /** SemDeDup-style semantic deduplication: partition the corpus into
    * IVF cells (each vector joins its nearest centroid by cosine, ties
    * to the smaller centroid id), detect within-cell pairs with cosine
    * ≥ `threshold`, close the pairs under transitivity
    * ([[graft.operators.ConnectedComponents]]), and keep the minimum
    * id per semantic cluster. One row per corpus vector: its cell, its
    * cluster representative, and the keep flag.
    *
    * The cell restriction is the published algorithm's approximation:
    * pairwise scoring is O(Σ cell²), never O(N²), so the plan scales
    * with cell sizes (centroid count is the lever). Cross-cell
    * near-dups are intentionally not detected — same trade as the IVF
    * probe path ([[ivfTopK]]).
    *
    * Scale shape: centroids broadcast; assignment collapses map-side
    * to one row per vector; the pair join is an equi-join on the cell
    * id; the closure runs O(log n) star-contraction rounds on pair
    * edges only (near-dup edge sets are tiny relative to the corpus).
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      centroidFilter: Column, threshold: Double): DataFrame = {
    // the assignment feeds the pair join AND the final output join, so
    // it is cached for the duration of the computation and released
    // deterministically by [[graft.core.Caching.withCached]] once the
    // result materializes.
    val cells = semanticCells(corpus, idCol, vecCol, centroidFilter)
    graft.core.Caching.withCached(cells)(semanticDedupPlan(cells, threshold))
  }

  /** Nearest-cell assignment for [[semanticDedup]]: one row per corpus
    * vector (vid, v, vn, cent_id). The argmax collapses the
    * corpus×centroids product MAP-SIDE (the [[lloydStep]] shape — a
    * ranking window here would shuffle all N·C scored rows, vectors
    * included). Split out so plan tests can pin the broadcast + no-
    * Window shape (the public method returns a checkpointed,
    * plan-opaque frame).
    */
  private[graft] def semanticCells(corpus: DataFrame, idCol: String,
      vecCol: String, centroidFilter: Column): DataFrame = {
    // Cell assignment as a ZERO-exchange projection over the native
    // argmin kernel (centroids are driver state, the kmeansTrain
    // convention). The previous broadcast-crossJoin + max(struct)
    // aggregate shuffled one struct PER VECTOR carrying the full
    // vector through the exchange and evaluated C cosines per row in
    // separate struct nodes; the kernel is one generated loop, and
    // the vector never enters an exchange at all. Same sim math and
    // tie rule — the aggregate's max over (sim, -id) equals the
    // kernel's ascending-id strict-better scan (ArgminKernelSpec).
    val centRows = collectCentroids(corpus, idCol, vecCol, centroidFilter)
    corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("vid"), col(vecCol).as("v"),
        l2norm(col(vecCol)).as("vn"))
      .select(col("vid"), col("v"), col("vn"),
        centroidAssignExpr(centRows, col("v")).getField("cell")
          .as("cent_id"))
  }

  /** Driver-held centroid rows `(cent_id, vector)` sorted by id — the
    * collect every folded-argmin caller shares (cells × dims floats,
    * the same driver state [[kmeansTrain]] carries between rounds).
    */
  private def collectCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, centroidFilter: Column): Seq[(Long, Seq[Float])] =
    corpus.filter(centroidFilter)
      .select(col(idCol).cast("long"), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1).toSeq

  /** Export the IVF-PQ SERVING ARTIFACTS — the hand-off this module's
    * header promises instead of a graph index: a single-node
    * low-latency server needs exactly three relations, written here
    * as parquet under `path`:
    *
    *   - `centroids/ (cent_id, ce)` — the coarse quantizer;
    *   - `codebook/ (cid, entry)` — the PQ codebook rows;
    *   - `codes/ (vec_id, cent_id, subspace, code)` — the compressed
    *     corpus: each vector's cell plus its m sub-quantizer codes,
    *     a few ints per vector instead of 4·dim bytes.
    *
    * Build cost is the engine's native distributed scan (broadcast
    * centroid assignment + codegen'd code argmin — the ivfPqTopK
    * corpus side); the artifacts are then small enough to load into
    * any serving runtime. [[certifyServingIndex]] reads them back and
    * emits per-artifact row counts and integer content checksums
    * (floats enter the checksum as exact micro floors — cast and
    * multiply are IEEE-identical in any engine, no libm), so the
    * export is oracle-certifiable end to end (p178).
    */
  def exportServingIndex(corpus: DataFrame, idCol: String,
      vecCol: String, coarseFilter: Column, pqFilter: Column, m: Int,
      dim: Int, path: String): Unit = {
    require(dim % m == 0, "m must divide dim")
    // the build parameters ride with the artifacts: a consumer called
    // with a different m/dim would mis-slice codes without failing
    // loudly on its own, so append/serve validate against this row
    val sess = corpus.sparkSession
    import sess.implicits._
    Seq((m, dim)).toDF("m", "dim")
      .write.mode("overwrite").parquet(s"$path/params")
    corpus.filter(coarseFilter)
      .select(col(idCol).as("cent_id"), col(vecCol).as("ce"))
      .write.mode("overwrite").parquet(s"$path/centroids")
    corpus.filter(pqFilter)
      .select(col(idCol).as("cid"), col(vecCol).as("entry"))
      .write.mode("overwrite").parquet(s"$path/codebook")
    // cell AND codes in ONE zero-exchange projection over a single
    // corpus scan — the native argmin kernels make both per-row
    // expressions, so the former vec_id equi-join of two corpus-sized
    // frames (semanticCells ⋈ pqCodes: two scans + a shuffle join)
    // disappears; rows are identical (every vector got exactly one
    // cell and m codes on both paths)
    val sub = dim / m
    val centRows = collectCentroids(corpus, idCol, vecCol, coarseFilter)
    val books = subSlices(loadCodebook(corpus, idCol, vecCol, pqFilter),
      m, sub)
    // the cell argmin is projected below the posexplode (beside it, it
    // would run once per subspace — see [[lloydStep]])
    corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("vec_id"),
        centroidAssignExpr(centRows, col(vecCol)).getField("cell")
          .as("cent_id"),
        array((0 until m).map(s =>
          pqArgmin(slice(col(vecCol), s * sub + 1, sub), books(s))): _*)
          .as("codes"))
      .select(col("vec_id"), col("cent_id"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      // codes are PARTITIONED BY CELL: a served query probes nprobe
      // of nlist cells, so the cell is the serving read path's
      // partition-prune key — [[ivfPqTopKFromArtifacts]] pushes the
      // probed cell set into the scan and reads nprobe/nlist of the
      // corpus instead of all of it. The pre-write repartition
      // clusters each cell into one task (without it every task
      // writes a file per cell it happens to hold — tasks × nlist
      // small files); the shuffle moves m-byte codes, never vectors.
      .repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$path/codes")
  }

  /** Incremental serving-index maintenance: code a DELTA batch of
    * vectors against the FROZEN artifacts and APPEND the new
    * `(vec_id, cent_id, subspace, code)` rows to `codes/` — O(Δ) new
    * parquet files, zero rewrite of committed bytes, no retraining.
    * This is how a billion-vector serving index absorbs a day's
    * ingest: the coarse quantizer and PQ codebook are release-frozen
    * (re-training them would invalidate every stored code), so a new
    * vector costs exactly one folded cell argmax + m folded code
    * argmins, computed per row in the scan.
    *
    * Bit-compatibility: centroids and codebook are read back from the
    * directory (parquet round-trips floats exactly), and the
    * assignment expressions are the same double math and tie rules
    * [[exportServingIndex]] used — so appended rows are bit-identical
    * to what a FULL re-export over (corpus ∪ delta) with the frozen
    * centroid/codebook sets would write for those ids (spec-pinned),
    * and [[certifyServingIndex]]/[[ivfPqTopKFromArtifacts]] work on
    * the extended directory unchanged.
    */
  def appendServingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, delta: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int): Unit =
    codedServingDelta(spark, path, delta, idCol, vecCol, m, dim)
      // same cell layout as the export: delta files land INSIDE the
      // existing cell directories (new files only — committed bytes
      // still never rewritten), so the serving prune keeps working
      // across appends; clustered like the export so a delta adds at
      // most one file per touched cell
      .repartition(col("cent_id"))
      .write.mode("append").partitionBy("cent_id")
      .parquet(s"$path/codes")

  /** [[appendServingIndex]]'s STAGING twin for exactly-once loop
    * bodies: the delta's coded rows land under `staging/codes`
    * (same `cent_id=` partition layout) instead of inside the live
    * index, so a loop can publish them together with the batch's
    * served answers in one atomic rename and roll the per-cell file
    * moves forward idempotently
    * ([[graft.core.Artifacts.publishTree]] preserves the partition
    * dirs). Byte-wise the rows are what the direct append would have
    * written — coded against the same frozen artifacts.
    */
  def stageServingDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, delta: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int, staging: String): Unit =
    codedServingDelta(spark, path, delta, idCol, vecCol, m, dim)
      .repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$staging/codes")

  private def codedServingDelta(
      spark: org.apache.spark.sql.SparkSession, path: String,
      delta: DataFrame, idCol: String, vecCol: String, m: Int,
      dim: Int): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    requireIndexParams(spark, path, m, dim)
    // A pre-params import may carry a FLAT codes/ layout (no cent_id=
    // partition dirs). Appending cell-partitioned files into it would
    // succeed and then fail every subsequent read with a
    // conflicting-directory-structure error — detect and refuse now.
    requirePartitionedCodes(spark, path)
    val sub = dim / m
    val book = spark.read.parquet(s"$path/codebook")
      .select(col("cid"), col("entry")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val books = subSlices(book, m, sub)
    val centRows = spark.read.parquet(s"$path/centroids")
      .select(col("cent_id").cast("long"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      .sortBy(_._1).toSeq
    val cell = centroidAssignExpr(centRows, col(vecCol)).getField("cell")
    val codesExpr = array((0 until m).map(s =>
      pqArgmin(slice(col(vecCol), s * sub + 1, sub), books(s))): _*)
    // cell and codes projected once per row, below the posexplode
    delta
      .select(col(idCol).as("vec_id"), cell.as("cent_id"),
        codesExpr.as("codes"))
      .select(col("vec_id"), col("cent_id"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .select(col("vec_id"), col("cent_id"),
        col("subspace").cast("integer").as("subspace"), col("code"))
  }

  /** Probed-cell count above which [[ivfPqTopKFromArtifacts]] skips
    * the partition-prune literal IN: a batch probing thousands of
    * distinct cells is reading most of the index anyway, and the
    * full-scan cell equi-join is the better plan than a
    * thousands-literal predicate.
    */
  val ServingPruneLimit = 4096

  /** Refuse to append cell-partitioned code files into a FLAT
    * `codes/` directory (a legacy/imported index written without
    * `partitionBy(cent_id)`, a case [[requireIndexParams]] tolerates
    * for reads). Mixing the two layouts corrupts the directory: the
    * append itself succeeds, then every read fails with Spark's
    * conflicting-directory-structure error. Re-export such an index
    * instead of appending to it.
    */
  private def requirePartitionedCodes(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val codes = new org.apache.hadoop.fs.Path(s"$path/codes")
    val fs = codes
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(codes)) {
      val flat = fs.listStatus(codes).exists { st =>
        st.isFile && st.getPath.getName.endsWith(".parquet")
      }
      require(!flat,
        s"serving index at $path has a flat codes/ layout (no " +
          "cent_id= partition directories); appending partitioned " +
          "files would corrupt it — re-export the index instead")
    }
  }

  private def servingDirExists(spark: org.apache.spark.sql.SparkSession,
      p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(path)
  }

  /** Refuse to read a serving index with parameters other than the
    * ones it was exported with — a mismatched m/dim slices codes
    * against the wrong sub-quantizers and degrades results silently
    * rather than erroring. Pre-params directories (external imports)
    * skip the check.
    */
  private def requireIndexParams(
      spark: org.apache.spark.sql.SparkSession, path: String, m: Int,
      dim: Int): Unit =
    if (servingDirExists(spark, s"$path/params")) {
      val r = spark.read.parquet(s"$path/params").collect().head
      val (gm, gd) = (r.getAs[Int]("m"), r.getAs[Int]("dim"))
      require(gm == m && gd == dim,
        s"serving index at $path was exported with m=$gm dim=$gd;" +
          s" called with m=$m dim=$dim")
    }

  /** DELETE vectors from a serving index the way a live index must —
    * without rewriting committed bytes: append the ids to a
    * `tombstones/` relation under `path`. Serving
    * ([[ivfPqTopKFromArtifacts]]) anti-joins it, so a takedown (a
    * right-to-be-forgotten order, a detected poisoning batch) takes
    * effect in O(|ids|) written bytes, immediately, while `codes/`
    * stays frozen. The physical reclaim is deferred to
    * [[compactServingIndex]] — the LSM discipline. Duplicate requests
    * are absorbed by the distinct; already-tombstoned ids appended
    * again stay correct (the anti-join is idempotent) and are
    * reconciled at compaction.
    */
  def tombstoneServingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String): Unit =
    ids.select(col(idCol).cast("long").as("vec_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")

  /** Physically reclaim tombstoned rows: rewrite `codes/` minus the
    * tombstoned ids and clear `tombstones/` — the compaction that
    * turns the O(|ids|) logical delete into reclaimed bytes. The
    * rewrite lands in a scratch directory first and swaps in via
    * rename with the old `codes/` held as `codes_old/` until the new
    * directory is in place (the IdMapStore backup-swap discipline), so
    * a crash mid-compact leaves either the old or the new state, never
    * a torn one. Cost: one scan of `codes/` + one anti-join (the
    * tombstone side is read once; AQE broadcasts it when small) + one
    * write — no re-coding, no training, centroids/codebook untouched.
    * A no-tombstone compact is a legitimate file-coalescing rewrite
    * (it still rewrites `codes/`), not an error.
    */
  def compactServingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.Artifacts.heal(fs, s"$path/codes")
    val codes = readCodes(spark, path)
    val kept =
      if (servingDirExists(spark, s"$path/tombstones"))
        codes.join(spark.read.parquet(s"$path/tombstones")
          .select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
      else codes
    kept.repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$path/codes__staging")
    graft.core.Artifacts.swapIn(fs, s"$path/codes__staging",
      s"$path/codes")
    fs.delete(new Path(s"$path/tombstones"), true)
  }

  /** The `codes/` relation's schema, provided explicitly on every
    * read: the cell is a PARTITION column, so an inferred read would
    * type it by its directory values (int vs long depending on id
    * magnitude) and fail entirely on a legitimately EMPTY relation
    * (a full-takedown compact leaves no data files to infer from).
    * The explicit long also makes the serving prune's `IN` literal
    * cast-free.
    */
  private val codesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("subspace",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("code",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cent_id",
      org.apache.spark.sql.types.LongType)))

  /** The `codes/` relation with its schema pinned (partition column
    * included) — also the absorbed-id census a self-maintaining loop
    * reads to re-train over everything an index has admitted.
    */
  def readCodes(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.schema(codesSchema).parquet(s"$path/codes")

  /** Read an [[exportServingIndex]] directory back and certify it:
    * one row per artifact with its row count and an order-free
    * integer checksum (Σ hash60(canonical integer row string)
    * mod 2²⁸ — vector elements enter as exact micro floors). The
    * oracle recomputes every quantity from the source table, so a
    * missing row, a perturbed float, or a swapped code
    * hash-mismatches.
    */
  def certifyServingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val TF = graft.pipeline.TextFunctions
    val M = lit(268435456L)
    def vecSum(df: DataFrame, idName: String, vName: String,
        tag: String): DataFrame =
      df.select(col(idName).as("id"), posexplode(col(vName)))
        .select(lit(tag).as("artifact"), col("id"), col("pos"),
          floor(col("col").cast("double") * 1e6).cast("long").as("q"))
        .groupBy(col("artifact"))
        .agg(countDistinct(col("id")).as("n_rows"),
          sum(pmod(TF.hash60(concat_ws(":",
            col("id").cast("string"), col("pos").cast("string"),
            col("q").cast("string"))), M)).as("checksum"))
    val cents = vecSum(spark.read.parquet(s"$path/centroids"),
      "cent_id", "ce", "centroids")
    val book = vecSum(spark.read.parquet(s"$path/codebook"),
      "cid", "entry", "codebook")
    val codes = readCodes(spark, path)
      .select(lit("codes").as("artifact"),
        pmod(TF.hash60(concat_ws(":", col("vec_id").cast("string"),
          col("cent_id").cast("string"), col("subspace").cast("string"),
          col("code").cast("string"))), M).as("term"))
      .groupBy(col("artifact"))
      .agg(count(lit(1)).as("n_rows"), sum(col("term")).as("checksum"))
    val base = cents.unionByName(book).unionByName(codes)
    // The tombstone relation is part of the index's logical state —
    // certify it too whenever it exists (absent after compaction or
    // on a never-deleted index, so p178/p181 certificates are
    // unchanged).
    if (!servingDirExists(spark, s"$path/tombstones")) base
    else base.unionByName(
      spark.read.parquet(s"$path/tombstones")
        .select(lit("tombstones").as("artifact"),
          pmod(TF.hash60(col("vec_id").cast("string")), M).as("term"))
        .groupBy(col("artifact"))
        .agg(count(lit(1)).as("n_rows"), sum(col("term")).as("checksum")))
  }

  /** Within-cell pair detection + transitive closure + keep decision
    * over a prepared [[semanticCells]] frame. NOTE: building this plan
    * runs the closure's star-contraction jobs eagerly (ConnectedComponents
    * checkpoints per round); only the surrounding joins stay lazy.
    */
  private[graft] def semanticDedupPlan(cells: DataFrame,
      threshold: Double): DataFrame = {
    val a = cells.select(col("cent_id"), col("vid").as("u"),
      col("v").as("va"), col("vn").as("na"))
    val b = cells.select(col("cent_id"), col("vid").as("v0"),
      col("v").as("vb"), col("vn").as("nb"))
    val edges = a.join(b,
        Seq("cent_id"))
      .filter(col("u") < col("v0") &&
        cosinePre(dot(col("va"), col("vb")), col("na"), col("nb")) >= threshold)
      .select(col("u"), col("v0").as("v"))
    val comp = graft.operators.ConnectedComponents.components(edges)
    cells.join(comp, cells("vid") === comp("node"), "left")
      .select(col("vid").as("vec_id"), col("cent_id").as("cell"),
        coalesce(col("component"), col("vid")).as("cluster_id"),
        (coalesce(col("component"), col("vid")) === col("vid"))
          .cast("int").as("keep"))
  }

  /** Symmetric int8 quantization scale: 127 / max|v_i|. At corpus
    * scale, int8 vectors cut ANN memory/IO 4× vs float32; dequantized
    * scoring error is bounded by the scale. Quantized values use
    * floor(v·scale) — floor, not round, so any engine reproduces the
    * integers exactly (round's tie behavior is engine-specific;
    * floor's is not).
    */
  def quantScale(vec: Column): Column =
    lit(127.0) / aggregate(transform(vec, x => abs(x.cast("double"))),
      lit(0.0), (acc, v) => greatest(acc, v))

  /** Quantized vector as array<long> given a precomputed scale. */
  def quantize(vec: Column, scale: Column): Column =
    transform(vec, x => floor(x.cast("double") * scale).cast("long"))

  /** Deterministic pseudo-random hyperplane weights for plane `p`:
    * integers in [−1000, 1000] derived from the portable 60-bit md5
    * hash of "hp<p>_<i>" (i = 1-based dimension index) — the same
    * value [[TextFunctions.hash60]] produces, but computed ONCE on the
    * driver instead of per row per element. The weights are integers,
    * so the float literal array is exact and the double products below
    * are bit-identical to the old interpreted-HOF form (and to the
    * DuckDB oracle, which still derives them via md5 in SQL).
    */
  private[graft] def planeWeights(plane: Int, dim: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to dim).map { i =>
      val hex = md.digest(s"hp${plane}_$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      (h % 2001L - 1000L).toFloat
    }.toArray
  }

  /** Random-hyperplane LSH bucket id: bit p of the result is the sign
    * of ⟨vec, w_p⟩ for hyperplane p ∈ [0, planes). The hyperplane
    * weights are constant-folded driver-side ([[planeWeights]]) and the
    * dot product runs through the codegen kernel — no per-row hashing,
    * no interpreted lambdas in the bucketing scan.
    */
  def lshBucket(vec: Column, dim: Int, planes: Int): Column =
    (0 until planes).map { p =>
      val d = dot(vec, typedLit(planeWeights(p, dim)))
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Feature-hashed document vectors (Weinberger et al. 2009,
    * "Feature Hashing for Large Scale Multitask Learning"): every
    * feature from `feats` (an array-of-strings column — tokens,
    * shingles, whatever discriminates the corpus) lands in
    * `hash(f) mod dim` with a ±1 sign from an independent second
    * hash, and the document's vector is the signed COUNT sum per
    * bucket — a dense `dim`-wide embedding from text alone, no
    * model. Sums are exact integers (any engine reproduces them
    * bit-for-bit; the only float op is the final cast), so the whole
    * ANN family — brute cosine, LSH, IVF, PQ — composes on top of
    * the output as on any embedding column. Feature choice matters:
    * on a small shared vocabulary, unigram features make every pair
    * of documents collinear — word k-shingles keep the dedup signal
    * (the same reason the MinHash family shingles first).
    *
    * Scale shape: two partial-aggregated shuffles — (id, bucket)
    * integer sums, then an id-keyed rollup of ≤`dim` entries pivoted
    * through a map; no corpus-scale wide rows ever move.
    */
  def hashedDocVectors(df: DataFrame, idCol: String, feats: Column,
      dim: Int): DataFrame = {
    val TF = graft.pipeline.TextFunctions
    df.select(col(idCol), explode(feats).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col(idCol),
        (TF.hash60(col("tok")) % dim).as("bucket"),
        when(TF.hash60(concat(lit("fs"), col("tok"))) % 2 === 0, 1L)
          .otherwise(-1L).as("sgn"))
      .groupBy(col(idCol), col("bucket")).agg(sum(col("sgn")).as("v"))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("v"))))
        .as("m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)),
          j => coalesce(element_at(col("m"), j), lit(0L)).cast("float"))
          .as("embedding"))
  }

  /** Per-ROW variant of [[hashedDocVectors]] for streaming ingest:
    * the same signed feature-hash vector built entirely inside one
    * row — no groupBy, no state — so a document's embedding exists
    * the moment it arrives. Two chained projections: the first
    * materializes each feature's (bucket, sign) once (two md5 per
    * feature, not per feature×dimension), the second folds them into
    * the `dim`-wide integer sums. Bit-identical to the batch
    * aggregation (exact integer sums are order-free), so stream-side
    * vectors join corpus-side batch vectors with no drift.
    */
  def withHashedDocVector(df: DataFrame, feats: Column, dim: Int,
      out: String = "embedding"): DataFrame = {
    val TF = graft.pipeline.TextFunctions
    val bs = transform(filter(feats, f => length(f) > 0), f =>
      struct((TF.hash60(f) % dim).as("b"),
        when(TF.hash60(concat(lit("fs"), f)) % 2 === 0, 1L)
          .otherwise(-1L).as("s")))
    df.withColumn("__bs", bs)
      .withColumn(out,
        transform(sequence(lit(0), lit(dim - 1)), j =>
          aggregate(col("__bs"), lit(0L), (acc, x) =>
            acc + when(x.getField("b") === j, x.getField("s"))
              .otherwise(0L)).cast("float")))
      .drop("__bs")
  }

  /** Deterministic signed permutation of 1..dim — the cheapest
    * orthogonal transform: `perm` is the argsort of md5-derived keys
    * (index tiebreak), `signs` ±1 per output slot. Shared by
    * [[rotateVec]] and the oracle generator so both engines apply the
    * identical transform.
    */
  private[graft] def signedPerm(dim: Int,
      salt: String): (Seq[Int], Seq[Int]) = {
    def h(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val perm = (1 to dim).sortBy(i => (h(s"rp${salt}_$i"), i))
    val signs = (1 to dim).map(i => if (h(s"rs${salt}_$i") % 2 == 0) 1 else -1)
    (perm, signs)
  }

  /** Random-rotation-lite before product quantization: re-express
    * every vector through a deterministic SIGNED PERMUTATION
    * (v'_j = ±v_perm(j)) — an exactly orthogonal transform, so
    * cosines/distances are preserved to the bit (±1 multiplication is
    * exact in IEEE), while each PQ subspace now sees a hash-random
    * subset of the original dimensions instead of a contiguous block.
    * This is the zero-cost member of the rotation family OPQ (Ge et
    * al. 2013) optimizes over: when energy concentrates in a dim
    * range (learned embeddings usually front-load it), contiguous
    * slicing starves some sub-quantizers; the permutation
    * redistributes the energy. Pure codegen projection — `dim`
    * `element_at`s and sign flips, no shuffle.
    */
  def rotateVec(vec: Column, dim: Int, salt: String): Column = {
    val (perm, signs) = signedPerm(dim, salt)
    array((0 until dim).map(j =>
      (element_at(vec, perm(j)) * lit(signs(j).toFloat)).cast("float")): _*)
  }

  /** Random-projection dimensionality reduction: project a `dim`-wide
    * vector onto `outDim` deterministic hyperplanes (the same
    * constant-folded [[planeWeights]] family as [[lshBucket]]) —
    * the classic 4-16× shrink before ANN indexing, distances
    * approximately preserved (Johnson–Lindenstrauss). Projections are
    * emitted fixed-point (`floor(⟨v,w⟩·1e6)`) so every engine
    * reproduces the reduced vectors bit-for-bit; each component is one
    * codegen dot kernel, no per-row weight hashing.
    */
  def randomProjection(vec: Column, dim: Int, outDim: Int): Column =
    array((0 until outDim).map { p =>
      floor(dot(vec, typedLit(planeWeights(p, dim))) * 1e6).cast("long")
    }: _*)

  /** Approximate top-k: bucket corpus and queries by [[lshBucket]],
    * equi-join on the bucket, exact cosine within it. Recall < 1 by
    * construction (that is the approximation); cost drops from
    * |corpus|·|Q| to collisions-in-bucket.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, planes: Int, k: Int): DataFrame = {
    val cb = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      l2norm(col(vecCol)).as("cn"),
      lshBucket(col(vecCol), dim, planes).as("bucket"))
    val qb = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2norm(col(vecCol)).as("qn"),
      lshBucket(col(vecCol), dim, planes).as("bucket"))
    val scored = cb.join(qb, Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .select(col("query_id"), col("cand_id"), col("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    prunePartitionTopK(scored, k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("cand_id"),
        floor(col("sim") * 1e6).cast("long").as("sim_micro"))
  }

  /** Multi-probe bucket list for a query vector (Lv et al. 2007,
    * "Multi-Probe LSH", adapted to sign/hyperplane LSH): the base
    * bucket plus `probes` perturbed buckets, each flipping the ONE
    * plane whose margin |⟨v, w_p⟩| is smallest — a near-boundary sign
    * is the likeliest to differ for a true neighbor, so probing those
    * flips buys recall without more hash tables. Everything is one
    * codegen projection: `planes` dot kernels (the same constant-
    * folded weights as [[lshBucket]]), an `array_sort` over
    * (|margin|, plane) structs (plane index breaks exact ties), and
    * XOR against a literal power table.
    */
  def lshProbeBuckets(vec: Column, dim: Int, planes: Int,
      probes: Int): Column = {
    require(probes >= 0 && probes <= planes,
      s"probes must be in [0, $planes]")
    val ds = (0 until planes).map(p => dot(vec, typedLit(planeWeights(p, dim))))
    val base = ds.zipWithIndex.map { case (d, p) =>
      when(d > 0, lit(1L << p)).otherwise(lit(0L)) }.reduce(_ + _)
    val margins = array(ds.zipWithIndex.map { case (d, p) =>
      struct(abs(d).as("m"), lit(p).as("p")) }: _*)
    val pows = typedLit((0 until planes).map(p => 1L << p).toArray)
    concat(array(base),
      transform(slice(array_sort(margins), 1, probes),
        f => base.bitwiseXOR(element_at(pows, f.getField("p") + 1))))
  }

  /** [[lshTopK]] with multi-probe queries: the corpus is bucketed
    * ONCE exactly as in the single-probe path; each query explodes to
    * `probes`+1 candidate buckets and the same equi-join + exact
    * cosine + top-k runs over the union. Probe buckets of one query
    * are pairwise distinct and a corpus row lives in one bucket, so
    * no (query, cand) pair is scored twice — no dedup exchange.
    * Candidate mass (and so cost) scales by probes+1 while recall
    * approaches multi-table LSH with ONE table's index footprint —
    * the point of the technique at 100 TB, where each extra hash
    * table is another full copy of the corpus index.
    */
  def lshMultiProbeTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, planes: Int, probes: Int,
      k: Int): DataFrame = {
    val cb = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      l2norm(col(vecCol)).as("cn"),
      lshBucket(col(vecCol), dim, planes).as("bucket"))
    // the query norm is projected below the explode: once per query,
    // not once per probe bucket
    val qb = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2norm(col(vecCol)).as("qn"),
        lshProbeBuckets(col(vecCol), dim, planes, probes).as("buckets"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(col("buckets")).as("bucket"))
    val scored = cb.join(qb, Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .select(col("query_id"), col("cand_id"), col("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    prunePartitionTopK(scored, k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), floor(col("sim") * 1e6).cast("long").as("sim_micro"))
  }

  /** One Lloyd (k-means) centroid-update iteration for the IVF coarse
    * quantizer: assign every vector to its nearest centroid by cosine,
    * then per (centroid, dimension) emit the member count and the
    * fixed-point mean — the refinement loop that turns the seeded
    * quantizer ([[ivfTopK]]'s `centroidFilter`) into trained cells.
    *
    * Scale shape: centroids are collected to the driver and folded
    * into the native argmin kernel ([[centroidAssignExpr]]), so the
    * assignment is a zero-exchange per-row projection — the vector
    * never enters an exchange. The only shuffle is the update: a
    * partial-agg groupBy on (centroid, dim) over the posexploded
    * vector.
    *
    * Determinism: ties break to the smaller centroid id (the kernel
    * scans ids ascending and keeps a strictly better sim); element
    * means are computed on `floor(x·1e6)` fixed-point integers, so
    * sums are exact and any engine reproduces `mean_fixed`
    * bit-for-bit (double sums of same-valued terms are
    * order-sensitive; integer sums are not).
    */
  def kmeansUpdate(corpus: DataFrame, idCol: String, vecCol: String,
      centroidFilter: Column): DataFrame =
    lloydStep(corpus, idCol, vecCol,
      collectCentroids(corpus, idCol, vecCol, centroidFilter))

  /** Lloyd iterated to a fixed count: [[kmeansUpdate]]'s step, with the
    * refined centroids fed back in. Between iterations the k·d
    * fixed-point means are collected to the driver and re-broadcast —
    * centroids are driver state in any k-means (tiny: cells × dims),
    * which keeps every iteration an independent one-shuffle plan (the
    * update groupBy) instead of a lineage that deepens with the
    * iteration count.
    *
    * Determinism: the rebuilt centroid elements are
    * `(mean_fixed / 1e6).toFloat` — an exact integer divided in double
    * then rounded once to float, the same two IEEE ops any engine
    * performs — so iterated assignments stay bit-reproducible.
    *
    * Output is [[kmeansUpdate]]'s shape for the final iteration, with
    * `cent_id` normalized to long.
    */
  def kmeansTrain(corpus: DataFrame, idCol: String, vecCol: String,
      centroidFilter: Column, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    var cents = collectCentroids(corpus, idCol, vecCol, centroidFilter)
    var out: DataFrame = null
    for (i <- 1 to iters) {
      out = lloydStep(corpus, idCol, vecCol, cents)
      if (i < iters) {
        // rebuilt centroid elements are (mean_fixed / 1e6).toFloat —
        // the same two IEEE ops as before; the refined rows now stay
        // driver-side instead of round-tripping through a toDF the
        // next lloydStep would immediately re-collect
        val rows = out.select("cent_id", "dim", "mean_fixed").collect()
        cents = rows.groupBy(_.getLong(0)).toSeq
          .map { case (id, rs) =>
            (id, rs.sortBy(_.getLong(1))
              .map(r => (r.getLong(2).toDouble / 1e6).toFloat).toSeq)
          }
          .sortBy(_._1)
      }
    }
    out.select(col("cent_id").cast("long").as("cent_id"), col("dim"),
      col("n"), col("mean_fixed"))
  }

  private def lloydStep(corpus: DataFrame, idCol: String, vecCol: String,
      centRows: Seq[(Long, Seq[Float])]): DataFrame = {
    // Assignment as the zero-exchange argmin projection (see
    // [[semanticCells]]): each Lloyd round is now ONE update shuffle
    // instead of assignment shuffle + update shuffle, and the vector
    // no longer rides a max(struct) exchange. Centroids were already
    // driver state between rounds ([[kmeansTrain]] collects means);
    // they arrive here as driver rows directly. Same sim math and
    // smaller-id tie rule — means are bit-identical.
    // Hoist rule: the argmin is projected BELOW the posexplode, because
    // a kernel written beside a generator lands in a Project above the
    // Generate and runs once per exploded dimension, not once per row.
    corpus
      .select(col(vecCol).as("v"),
        centroidAssignExpr(centRows, col(vecCol)).getField("cell")
          .as("cent_id"))
      .select(col("cent_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cent_id"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * 1e6)).as("sx"))
      .select(col("cent_id"), col("dim").cast("long").as("dim"), col("n"),
        floor(col("sx") / col("n")).cast("long").as("mean_fixed"))
  }

  /** Centroid vectors from [[kmeansTrain]]'s fixed-point means:
    * per-dimension `(mean_fixed / 1e6).toFloat` assembled in dim order
    * — the same two IEEE ops the trainer performs driver-side between
    * iterations, so a trained centroid fed back through
    * [[ivfTopKWith]] is bit-reproducible in any engine.
    */
  def centroidsFromMeans(means: DataFrame): DataFrame =
    means.groupBy("cent_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("mean_fixed"))))
        .as("dm"))
      .select(col("cent_id"),
        transform(col("dm"), x =>
          (x.getField("mean_fixed").cast("double") / lit(1e6)).cast("float"))
          .as("ce"))

  /** Squared L2 distance as three index-order dot products
    * (`a·a − 2·a·b + b·b`) — each term is the codegen kernel, and the
    * combination is three IEEE ops in a fixed order, so any engine
    * replaying the same three sums gets the same double.
    */
  private def dist2(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Product-quantization codes: the vector is cut into `m` equal
    * subspaces and each vector is assigned, per subspace, the id of its
    * nearest (squared-L2) codebook entry — ties to the smaller id. The
    * codebook is the `centroidFilter` rows' sub-slices, collected to
    * the driver and constant-folded into the per-row argmin exactly as
    * [[kmeansTrain]] treats centroids (codebooks are driver state:
    * m × k × dim/m floats = k × dim total).
    *
    * Scale shape: ZERO exchanges — the argmin over the folded codebook
    * runs in whole-stage codegen per row; output is (vec_id, subspace,
    * code). At 100 TB the point of PQ is exactly this compression:
    * m small ints per vector instead of 4·dim bytes, so an
    * asymmetric-distance scan reads codes + a k×m lookup table instead
    * of raw vectors — the codes relation is what downstream ANN
    * shuffles, ~64× lighter at dim=64/m=4.
    */
  def pqCodes(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
      dim: Int, centroidFilter: Column): DataFrame =
    pqCodeArray(corpus, idCol, vecCol, m, dim,
        subSlices(loadCodebook(corpus, idCol, vecCol, centroidFilter), m, dim / m))
      .select(col("vec_id"), posexplode(col("codes")))
      .toDF("vec_id", "subspace", "code")

  /** Per-subspace view of a full-vector codebook: subspace s's entry
    * list is every (cid, slice_s). After training the subspaces
    * diverge (each refines its own means, and a code that loses all
    * members in one subspace drops out of that subspace only), so the
    * per-subspace list-of-entries is the codebook's true shape; the
    * untrained path is just the uniform special case.
    */
  private def subSlices(codebook: Array[(Long, Array[Float])], m: Int,
      sub: Int): IndexedSeq[Array[(Long, Array[Float])]] =
    (0 until m).map(s =>
      codebook.map { case (cid, ce) => (cid, ce.slice(s * sub, (s + 1) * sub)) })

  /** Nearest-codebook-entry argmin for one subspace: the entries are
    * constant-folded into a `greatest(struct(-d², -id, id))` resolved
    * in whole-stage codegen — zero exchanges, ties to the smaller id.
    */
  private def pqArgmin(vslice: Column,
      entries: Array[(Long, Array[Float])]): Column = {
    require(entries.nonEmpty, "empty subspace codebook")
    // native codegen loop over a reference-object codebook — replaces
    // the greatest(struct(-dist2, -id, id)) folded-literal tree, whose
    // C·sub expression nodes overflowed the JIT method ceiling and ran
    // interpreted (no CSE: dot(v,v) re-evaluated per entry). Same index
    // -order double math, same tie rule — ArgminKernelSpec pins
    // bit-equality against the folded form.
    graft.functions.VectorExpressions.pqArgminF(vslice,
      entries.toIndexedSeq)
  }

  /** Per-subspace Lloyd refinement of the PQ codebook — the ADC-error
    * trainer ([[kmeansTrain]]'s exact shape, once per subspace but in
    * ONE plan): assignment is the zero-exchange [[pqArgmin]] argmin per
    * (vector, subspace); the update is a single (subspace, code, dim)
    * partial-agg groupBy over the exploded member slices. Between
    * iterations the m·k·(dim/m) fixed-point means — k×dim floats, the
    * same driver state [[kmeansTrain]] carries — collect and rebuild
    * the per-subspace codebooks. A code that loses all members in a
    * subspace drops out of that subspace's list (never reassigned).
    *
    * Determinism matches [[kmeansTrain]]: distances are fixed-op-order
    * doubles, means are integer fixed-point, rebuilt elements are
    * `(mean_fixed / 1e6).toFloat` — so any engine replays the
    * iterations bit-for-bit. Output is the FINAL iteration's
    * (subspace, code, dim, n, mean_fixed) with `dim` global.
    */
  def pqTrainMeans(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int, centroidFilter: Column, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dim % m == 0, "m must divide dim")
    val sub = dim / m
    var books = subSlices(
      loadCodebook(corpus, idCol, vecCol, centroidFilter), m, sub)
    var out: DataFrame = null
    for (i <- 1 to iters) {
      out = pqLloydStep(corpus, vecCol, m, dim, books)
      if (i < iters) books = booksFromMeans(out.collect(), m, sub)
    }
    out
  }

  /** PQ codes assigned from a TRAINED codebook: [[pqTrainMeans]]'s
    * final means rebuild as per-subspace entries and the assignment is
    * the same zero-exchange constant-folded argmin as [[pqCodes]] —
    * train → index, the production composition (p52's analogue for the
    * ADC family).
    */
  def pqTrainedCodes(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int, centroidFilter: Column, iters: Int): DataFrame = {
    val books = TrainedIndexStore.pqBooks(corpus, idCol, vecCol, m, dim,
      centroidFilter, iters)
    pqCodeArray(corpus, idCol, vecCol, m, dim, books)
      .select(col("vec_id"), posexplode(col("codes")))
      .toDF("vec_id", "subspace", "code")
  }

  private def pqLloydStep(corpus: DataFrame, vecCol: String, m: Int,
      dim: Int, books: IndexedSeq[Array[(Long, Array[Float])]]): DataFrame = {
    val sub = dim / m
    val entries = (0 until m).map { s =>
      val vslice = slice(col("__v"), s * sub + 1, sub)
      struct(lit(s.toLong).as("s"), pqArgmin(vslice, books(s)).as("code"),
        vslice.as("vs"))
    }
    corpus.select(col(vecCol).as("__v"))
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.s").as("subspace"), col("e.code").as("code"),
        posexplode(col("e.vs")).as(Seq("j", "x")))
      .withColumn("dim", (col("subspace") * sub + col("j")).cast("long"))
      .groupBy(col("subspace"), col("code"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * 1e6)).as("sx"))
      .select(col("subspace"), col("code"), col("dim"), col("n"),
        floor(col("sx") / col("n")).cast("long").as("mean_fixed"))
  }

  /** Rebuild per-subspace codebooks from collected
    * (subspace, code, dim, n, mean_fixed) rows — the element rebuild is
    * the [[kmeansTrain]] driver step per subspace.
    */
  private[pipeline] def booksFromMeans(rows: Array[org.apache.spark.sql.Row],
      m: Int, sub: Int): IndexedSeq[Array[(Long, Array[Float])]] = {
    val bySub = rows.groupBy(_.getLong(0))
    (0 until m).map { s =>
      bySub.getOrElse(s.toLong, Array.empty)
        .groupBy(_.getLong(1)).toArray
        .map { case (cid, rs) =>
          (cid, rs.sortBy(_.getLong(2))
            .map(r => (r.getLong(4).toDouble / 1e6).toFloat))
        }
        .sortBy(_._1)
    }
  }

  /** The driver-side codebook: (id, full vector) rows selected by the
    * filter, sorted by id (k × dim floats — the same driver state
    * [[kmeansTrain]] carries between iterations).
    */
  private def loadCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      centroidFilter: Column): Array[(Long, Array[Float])] = {
    val cb = corpus.filter(centroidFilter)
      .select(col(idCol).cast("long").as("cent_id"), col(vecCol).as("ce"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cb.nonEmpty, "centroidFilter selected no codebook rows")
    cb
  }

  /** (vec_id, codes[m]) — the wide form of [[pqCodes]]: the per-row
    * argmin over the constant-folded codebook, one code column per
    * subspace, zero exchanges.
    */
  private def pqCodeArray(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int,
      books: IndexedSeq[Array[(Long, Array[Float])]]): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val sub = dim / m
    val codeCols = (0 until m).map { s =>
      pqArgmin(slice(col("__v"), s * sub + 1, sub), books(s))
    }
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
      .select(col("vec_id"), array(codeCols: _*).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query keeps
    * its full-precision vector; every corpus row participates only
    * through its m codes, and the approximate distance is the sum of
    * per-subspace exact distances from the query's sub-slice to the
    * CODEBOOK ENTRY the code names — the classic PQ scan.
    *
    * Scale shape: the corpus side of the scan carries (vec_id,
    * codes[m]) — m·4 bytes a row instead of dim·4 — against a broadcast
    * query set, with the codebook lookup a constant-folded map literal
    * resolved in codegen. [[prunePartitionTopK]] then bounds the
    * ranking exchange to P·|Q|·k survivors exactly as the exact scans
    * do. Smaller distance = better; ties to the smaller corpus id.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, m: Int, dim: Int, centroidFilter: Column,
      k: Int): DataFrame =
    pqTopKWith(corpus, queries, idCol, vecCol, m, dim,
      subSlices(loadCodebook(corpus, idCol, vecCol, centroidFilter), m,
        dim / m),
      k)

  /** ADC top-k over PREPARED per-subspace codebooks — [[pqTopK]] with
    * the codebook as an explicit input, so the trained entries from
    * [[pqTrainMeans]] (via [[booksFromMeans]]) drive the full
    * compressed scan: train → index → query, the [[ivfTopKWith]]
    * analogue for the ADC family.
    */
  def pqTopKTrained(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, m: Int, dim: Int, centroidFilter: Column,
      iters: Int, k: Int): DataFrame =
    pqTopKWith(corpus, queries, idCol, vecCol, m, dim,
      TrainedIndexStore.pqBooks(corpus, idCol, vecCol, m, dim,
        centroidFilter, iters),
      k)

  /** Cell-bounded cosine pairs of an incoming vector batch against a
    * static corpus — vector dedup at INGEST (admit an embedding only
    * if no corpus neighbor clears the threshold). Works on a
    * STREAMING incoming frame: the centroid values are collected once
    * at plan time (centroid-sized — the [[kmeansTrain]] move) and
    * folded into per-row expressions, so the incoming side is
    * stateless projections only — per-row top-nprobe cell list (a
    * sorted literal-scored array, never a groupBy), explode, then a
    * stream-static equi-join on the cell id against the corpus's cell
    * index, exact cosine on survivors, threshold filter. Append-mode
    * safe with no watermark and no state store.
    *
    * Scale shape: the corpus cell index builds with the map-side
    * argmax (one exchange of corpus rows — [[ivfCellIndex]]; a static
    * side Spark re-plans per micro-batch, so streaming callers cache
    * it); incoming vectors fan out ×nprobe on an 8-byte cell key; the
    * pair work is bounded by cell size, never corpus × batch. The
    * incoming-side cell scorer auto-switches on centroid count: up to
    * [[FoldedCentroidLimit]] centroids fold into per-centroid codegen
    * expressions (fastest per row); past that, the centroid matrix
    * rides ONE array literal scored through a higher-order transform —
    * plan size stays a single compact literal instead of C·dim
    * expression nodes, and the incoming side remains stateless
    * projections either way.
    */
  def ivfProbePairs(incoming: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, centroidFilter: Column, nprobe: Int,
      thresholdMicro: Long): DataFrame =
    ivfProbePairsWith(incoming, corpus, idCol, vecCol, centroidFilter,
      nprobe, thresholdMicro,
      ivfCellIndex(corpus, idCol, vecCol, centroidFilter))

  /** Past this many centroids, [[ivfProbePairsWith]] scores incoming
    * cells through a single array-literal + higher-order transform
    * instead of per-centroid folded expressions (whose plan would
    * carry C·dim literal nodes — multi-megabyte past a few thousand
    * centroids).
    */
  val FoldedCentroidLimit = 256

  /** The static-corpus side of [[ivfProbePairs]]: every corpus vector
    * assigned to its nearest centroid by the map-side argmax —
    * `(cent_id, cand_id, candv, candn)`. Streaming callers build this
    * ONCE and `persist()` it: it is a static side Spark re-plans per
    * micro-batch, and caching turns each batch's O(|corpus|·C)
    * assignment into a cache read (the caller owns the block's
    * lifetime).
    */
  def ivfCellIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroidFilter: Column): DataFrame = {
    // zero-exchange argmin projection — see [[semanticCells]]; the
    // corpus vector no longer rides a max(struct) aggregate exchange
    val centRows = collectCentroids(corpus, idCol, vecCol, centroidFilter)
    corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("cand_id"), col(vecCol).as("candv"),
        l2norm(col(vecCol)).as("candn"))
      .select(col("cand_id"),
        centroidAssignExpr(centRows, col("candv")).getField("cell")
          .as("cent_id"),
        col("candv"), col("candn"))
  }

  /** [[ivfProbePairs]] with the corpus cell index as an explicit input
    * (see [[ivfCellIndex]] — pass a persisted index when `incoming` is
    * a stream).
    */
  def ivfProbePairsWith(incoming: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, centroidFilter: Column, nprobe: Int,
      thresholdMicro: Long, cellIndex: DataFrame): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val centRows = corpus.filter(centroidFilter)
      .select(col(idCol).cast("long"), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(centRows.nonEmpty, "empty centroid set")
    val scoredCells =
      if (centRows.length <= FoldedCentroidLimit) {
        // literal-folded centroid scores: l2norm over a literal array
        // constant-folds, dot runs in codegen per row — no aggregation
        // on the incoming side, so a streaming frame passes through
        // untouched
        array(centRows.map { case (cid, ce) =>
          val arr = array(ce.toIndexedSeq.map(lit(_)): _*)
          struct(
            cosinePre(dot(col("qv"), arr), col("qn"), l2norm(arr)).as("sim"),
            lit(-cid).as("tie"), lit(cid).as("cent_id"))
        }.toIndexedSeq: _*)
      } else {
        // compact-literal scorer: the whole centroid matrix is ONE
        // nested-array literal; ids and driver-computed norms (same
        // index-order double math as l2norm) ride parallel literals.
        // Still per-row stateless projections — streaming-safe.
        val centArr = typedLit(centRows.toSeq.map(_._2.toSeq))
        val idArr = typedLit(centRows.toSeq.map(_._1))
        val normArr = typedLit(centRows.toSeq.map { case (_, ce) =>
          var s = 0.0
          var i = 0
          while (i < ce.length) { val v = ce(i).toDouble; s += v * v; i += 1 }
          math.sqrt(s)
        })
        transform(centArr, (ce, i) => struct(
          cosinePre(dot(col("qv"), ce), col("qn"),
            element_at(normArr, i + 1)).as("sim"),
          (-element_at(idArr, i + 1)).as("tie"),
          element_at(idArr, i + 1).as("cent_id")))
      }
    val probe = incoming
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2norm(col(vecCol)).as("qn"))
      .withColumn("cent_id",
        explode(transform(
          slice(reverse(array_sort(scoredCells)), 1, nprobe),
          s => s.getField("cent_id"))))
    probe.join(cellIndex, Seq("cent_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim",
        cosinePre(dot(col("qv"), col("candv")), col("qn"), col("candn")))
      .filter(floor(col("sim") * 1e6) >= thresholdMicro)
      .select(col("query_id"), col("cand_id"),
        floor(col("sim") * 1e6).cast("long").as("sim_micro"))
  }

  /** IVF-PQ: the coarse quantizer COMPOSED with the compressed scan —
    * the production index shape (FAISS's IVFPQ) that makes
    * billion-vector ANN tractable. Corpus vectors land in coarse
    * cells by the map-side argmax, carrying only their m-entry PQ
    * codes into the exchange; queries probe their `nprobe` nearest
    * cells; ADC distances run only inside probed cells, against the
    * RAW query vector (asymmetric) through the constant-folded
    * per-subspace lookup table.
    *
    * Scale shape: the corpus-side exchange moves (id, cell, m codes) —
    * never vectors (the codes are computed in the scan projection,
    * BEFORE the shuffle, and the argmax struct carries them through
    * the partial agg); the probe join is an equi-join on the cell id;
    * the ADC lookup resolves in whole-stage codegen;
    * [[prunePartitionTopK]] bounds the ranking exchange. At 100 TB
    * this is the difference between shuffling 4·dim bytes and m bytes
    * per candidate, times the probed fraction of the corpus.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, coarseFilter: Column, pqFilter: Column, m: Int,
      dim: Int, k: Int, nprobe: Int): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    require(nprobe >= 1, "nprobe must be >= 1")
    val sub = dim / m
    val books = subSlices(loadCodebook(corpus, idCol, vecCol, pqFilter),
      m, sub)
    val cents = broadcast(corpus.filter(coarseFilter)
      .select(col(idCol).as("cent_id"), col(vecCol).as("ce"),
        l2norm(col(vecCol)).as("ce_n")))
    // corpus side: PQ codes AND the cell argmin fold into one scan
    // projection (native kernels — no crossJoin, no aggregate; the
    // former max(struct) exchange moved m ints per vector, this moves
    // nothing at all)
    val centRows = collectCentroids(corpus, idCol, vecCol, coarseFilter)
    val cellC = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("cand_id"),
        centroidAssignExpr(centRows, col(vecCol)).getField("cell")
          .as("cent_id"),
        array((0 until m).map(s =>
          pqArgmin(slice(col(vecCol), s * sub + 1, sub), books(s))): _*)
          .as("codes"))
    adcRank(cellC, probeCellsQ(queries, idCol, vecCol, cents, nprobe),
      books, m, sub, k)
  }

  /** The query-side probe builder shared by [[ivfPqTopK]] and
    * [[ivfPqTopKFromArtifacts]]: bounded top-nprobe cell list
    * (24-byte triples, never vectors), then one row per probed cell
    * with the raw query vector.
    */
  private def probeCellsQ(queries: DataFrame, idCol: String,
      vecCol: String, cents: DataFrame, nprobe: Int): DataFrame =
    queries
      .repartition(queries.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2norm(col(vecCol)).as("qn"))
      .crossJoin(cents)
      .withColumn("__sim",
        cosinePre(dot(col("qv"), col("ce")), col("qn"), col("ce_n")))
      .groupBy(col("query_id"))
      .agg(
        slice(reverse(array_sort(collect_list(struct(col("__sim"),
          (-col("cent_id")).as("tie"), col("cent_id"))))), 1, nprobe)
          .as("top"),
        first(col("qv")).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(col("top.cent_id")).as("cent_id"))

  /** The ADC scoring tail shared by [[ivfPqTopK]] and
    * [[ivfPqTopKFromArtifacts]]: per-subspace folded-LUT distances,
    * cell equi-join, partial top-k, exact ranking window.
    */
  private def adcRank(cellC: DataFrame, cellQ: DataFrame,
      books: IndexedSeq[Array[(Long, Array[Float])]], m: Int, sub: Int,
      k: Int): DataFrame = {
    val adist = (0 until m).map { s =>
      val lut = map(books(s).toIndexedSeq.flatMap { case (cid, ce) =>
        Seq(lit(cid), array(ce.toIndexedSeq.map(lit(_)): _*))
      }: _*)
      dist2(slice(col("qv"), s * sub + 1, sub),
        element_at(lut, col("codes").getItem(s)))
    }.reduce(_ + _)
    val scored = cellC.join(cellQ, Seq("cent_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), (-adist).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    prunePartitionTopK(scored, k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank").cast("long"),
        floor(-col("sim") * 1e6).cast("long").as("adist_micro"))
  }

  /** [[ivfPqTopK]] served FROM an [[exportServingIndex]] directory —
    * the proof the exported artifacts are a COMPLETE index, not just
    * checksummed bytes: centroids broadcast from `centroids/`, the
    * codebook collected from `codebook/` (parquet round-trips floats
    * bit-exactly, so the folded LUTs are the literal same), and the
    * compressed corpus scanned from `codes/` — no raw corpus vector
    * is ever read. Output is bit-identical to the in-memory
    * [[ivfPqTopK]] over the source table (spec-pinned), which is
    * exactly the serving-node contract.
    */
  def ivfPqTopKFromArtifacts(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int, k: Int, nprobe: Int): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    require(nprobe >= 1, "nprobe must be >= 1")
    requireIndexParams(spark, path, m, dim)
    val sub = dim / m
    val book = spark.read.parquet(s"$path/codebook")
      .select(col("cid"), col("entry")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val books = subSlices(book, m, sub)
    val cents = broadcast(spark.read.parquet(s"$path/centroids")
      .select(col("cent_id"), col("ce"), l2norm(col("ce")).as("ce_n")))
    // The probe set is |Q|·nprobe rows by construction — materialize
    // it once (localCheckpoint) so the driver can read the probed
    // cell set for partition pruning AND the ADC join reuses it
    // without re-probing.
    val cellQ = probeCellsQ(queries, idCol, vecCol, cents, nprobe)
      .localCheckpoint()
    val probed = cellQ.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0))
    // Cell-pruned serving: codes/ is partitioned by cent_id, so
    // pushing the probed cells into the scan reads nprobe/nlist of
    // the compressed corpus instead of all of it — the reason the
    // export lays codes out by cell. Past ServingPruneLimit distinct
    // cells (a huge query batch probing most of the index) the
    // literal IN stops paying for its plan size and the full-scan
    // cell join is the right plan anyway.
    val rawCodes = {
      val all = readCodes(spark, path)
      if (probed.length <= ServingPruneLimit)
        all.filter(col("cent_id").isin(probed.toIndexedSeq: _*))
      else all
    }
    // Honor logical deletes: tombstoned ids drop out of the candidate
    // scan before any scoring (the anti-join prunes map-side when the
    // tombstone set broadcasts — AQE's call, since a takedown batch
    // can be anywhere from one id to millions).
    val liveCodes =
      if (servingDirExists(spark, s"$path/tombstones"))
        rawCodes.join(spark.read.parquet(s"$path/tombstones")
          .select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
      else rawCodes
    val cellC = liveCodes
      .groupBy(col("vec_id"), col("cent_id"))
      .agg(transform(array_sort(collect_list(struct(col("subspace"),
        col("code")))), x => x.getField("code")).as("codes"))
      .select(col("vec_id").as("cand_id"), col("cent_id"),
        col("codes"))
    adcRank(cellC, cellQ, books, m, sub, k)
  }

  /** Mean squared reconstruction error of a mass's STORED codes
    * against its true vectors — the FAISS re-train criterion, read
    * entirely from an [[exportServingIndex]] directory: each stored
    * code row reconstructs through the frozen codebook (folded into a
    * literal LUT like serving) and is compared to the mass's actual
    * vector. Per-vector errors floor to integers BEFORE the sum, so
    * the distributed aggregate is order-free exact math (a double
    * mean would vary with partition order). One row:
    * (n_vecs, recon_err = Σ floor(d²(v, recon(v))) // n).
    */
  def reconstructionError(spark: org.apache.spark.sql.SparkSession,
      path: String, mass: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    requireIndexParams(spark, path, m, dim)
    val sub = dim / m
    val book = spark.read.parquet(s"$path/codebook")
      .select(col("cid"), col("entry")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val books = subSlices(book, m, sub)
    val codes = readCodes(spark, path)
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("subspace"),
        col("code")))), x => x.getField("code")).as("codes"))
    val joined = mass
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .join(codes, Seq("vec_id"))
    val err = (0 until m).map { s =>
      val lut = map(books(s).toIndexedSeq.flatMap { case (cid, ce) =>
        Seq(lit(cid), array(ce.toIndexedSeq.map(lit(_)): _*))
      }: _*)
      dist2(slice(col("v"), s * sub + 1, sub),
        element_at(lut, col("codes").getItem(s)))
    }.reduce(_ + _)
    joined.select(floor(err).cast("long").as("e"))
      .agg(count(lit(1)).as("n_vecs"),
        floor(sum(col("e")).cast("double") / count(lit(1)))
          .cast("long").as("recon_err"))
  }

  /** Index-order dot over DOUBLE arrays — the residual-space sibling
    * of [[dot]], backed by the native codegen'd kernel
    * ([[graft.functions.DotProductD]]); bit-identical to the HOF
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` form (same index
    * order, same double accumulation), so driver doubles, this
    * kernel, and the oracle's `list_sum(list_transform)` all agree
    * bit-for-bit. The HOF form it replaces pays a lambda dispatch per
    * element in the interpreter — measured ~5x on the residual-PQ
    * argmin, which reads ~3·m·|book| dots per corpus row.
    */
  private def dotD(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotD(a, b)

  /** Squared L2 over double arrays in [[dist2]]'s expanded op order. */
  private def dist2D(a: Column, b: Column): Column =
    dotD(a, a) - lit(2.0) * dotD(a, b) + dotD(b, b)

  private def litD(a: Array[Double]): Column =
    array(a.toIndexedSeq.map(lit(_)): _*)

  /** [[pqArgmin]] over a residual-space (double) codebook. */
  private def pqArgminD(vslice: Column,
      entries: Array[(Long, Array[Double])]): Column = {
    require(entries.nonEmpty, "empty subspace codebook")
    // native kernel — see [[pqArgmin]]; dist2D op order preserved
    graft.functions.VectorExpressions.pqArgminD(vslice,
      entries.toIndexedSeq)
  }

  /** Residual IVF-PQ — FAISS's actual IVFPQ encoding: each vector's
    * PQ codes quantize its RESIDUAL v − c(v) against its coarse
    * centroid, not the raw vector, so the codebook spends its entries
    * on within-cell structure instead of re-describing cell centers;
    * ADC compares the query's residual against the probed cell to the
    * same residual-space entries. On clustered data this is the
    * difference between a codebook wasted on cluster offsets and one
    * that resolves neighbors (the p122 scorecard row measures it).
    *
    * Determinism: residuals are exact — `CAST(v AS DOUBLE) − CAST(c
    * AS DOUBLE)` loses nothing for float inputs — and every distance
    * is the expanded `a·a − 2a·b + b·b` over index-order double sums,
    * so codes, probes, and ADC ranks replay bit-for-bit. The
    * residual-space codebook is the `pqFilter` rows' OWN residuals
    * (assigned by the same nearest-cell rule), computed on the driver
    * in the identical operation order.
    *
    * Scale shape — stronger than [[ivfPqTopK]]: coarse centroids AND
    * the codebook fold into the scan as literals, so cell assignment,
    * residual, and code assignment are ALL zero-exchange per-row
    * projections (no centroid crossJoin, no argmax groupBy — the
    * [[ivfProbePairsWith]] folded-scorer move, subject to the same
    * [[FoldedCentroidLimit]] plan-size bound); the probe join
    * broadcasts the (|Q|·nprobe)-row probe set onto the corpus scan,
    * ADC resolves in codegen, and [[prunePartitionTopK]] bounds the
    * only exchange — the final ranking window's.
    */
  def ivfResidualPqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, coarseFilter: Column,
      pqFilter: Column, m: Int, dim: Int, k: Int,
      nprobe: Int): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    require(nprobe >= 1, "nprobe must be >= 1")
    val sub = dim / m
    val centRows = corpus.filter(coarseFilter)
      .select(col(idCol).cast("long"), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(centRows.nonEmpty, "empty coarse centroid set")
    require(centRows.length <= FoldedCentroidLimit,
      s"coarse set exceeds the folded-literal bound $FoldedCentroidLimit")
    // driver-side mirror of the folded scorer's exact double math
    def dotJ(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def normJ(a: Array[Float]): Double = math.sqrt(dotJ(a, a))
    def bestCellJ(v: Array[Float]): (Long, Array[Float]) =
      centRows.map { case (cid, ce) =>
        (dotJ(v, ce) / (normJ(v) * normJ(ce)), -cid, cid, ce)
      }.max(Ordering.by((t: (Double, Long, Long, Array[Float])) =>
        (t._1, t._2))) match { case (_, _, cid, ce) => (cid, ce) }
    // residual-space codebook: pqFilter rows' own residuals
    val bookRows: Array[(Long, Array[Double])] = corpus.filter(pqFilter)
      .select(col(idCol).cast("long"), col(vecCol)).collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray
        val (_, ce) = bestCellJ(v)
        (r.getLong(0),
          v.indices.map(i => v(i).toDouble - ce(i).toDouble).toArray)
      }.sortBy(_._1)
    val books: IndexedSeq[Array[(Long, Array[Double])]] =
      (0 until m).map(s => bookRows.map { case (cid, e) =>
        (cid, e.slice(s * sub, (s + 1) * sub)) })
    // folded nearest-cell scorer (per-row, zero exchange)
    def scoredCells(v: Column, vn: Column) =
      array(centRows.map { case (cid, ce) =>
        val arr = array(ce.toIndexedSeq.map(lit(_)): _*)
        struct(cosinePre(dot(v, arr), vn, l2norm(arr)).as("sim"),
          lit(-cid).as("tie"), lit(cid).as("cent_id"))
      }.toIndexedSeq: _*)
    val centVecMap = map(centRows.toIndexedSeq.flatMap { case (cid, ce) =>
      Seq(lit(cid), array(ce.toIndexedSeq.map(lit(_)): _*))
    }: _*)
    def residual(v: Column, ce: Column): Column =
      zip_with(v, ce, (a, b) => a.cast("double") - b.cast("double"))
    // corpus: assign cell + residualize in the scan, then MATERIALIZE
    // the residual through the parallelism exchange before the m
    // per-subspace argmins read it. Collapsed into one projection the
    // argmins would inline `rv` (itself the folded cell argmax + a
    // 64-wide zip_with) into every one of their ~3·m·|book| distance
    // terms — whole-stage codegen's subexpression elimination hides
    // that, but this stage exceeds the JIT method bound and runs on
    // the interpreted path, which has no CSE: measured ~5x slower
    // with the single collapsed projection.
    val codesExpr = array((0 until m).map(s =>
      pqArgminD(slice(col("rv"), s * sub + 1, sub), books(s))): _*)
    val cellC = corpus
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
        l2norm(col(vecCol)).as("cn"))
      .withColumn("cent_id",
        element_at(reverse(array_sort(scoredCells(col("cv"), col("cn")))), 1)
          .getField("cent_id"))
      .withColumn("rv", residual(col("cv"), element_at(centVecMap, col("cent_id"))))
      .select(col("cand_id"), col("cent_id"), col("rv"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col("cand_id"), col("cent_id"), codesExpr.as("codes"))
    // queries: top-nprobe cells per row, residual per probed cell
    val cellQ = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2norm(col(vecCol)).as("qn"))
      .withColumn("cent_id",
        explode(transform(
          slice(reverse(array_sort(scoredCells(col("qv"), col("qn")))), 1,
            nprobe),
          s => s.getField("cent_id"))))
      .withColumn("rq", residual(col("qv"), element_at(centVecMap, col("cent_id"))))
      .select(col("query_id"), col("rq"), col("cent_id"))
    val adist = (0 until m).map { s =>
      val lut = map(books(s).toIndexedSeq.flatMap { case (cid, e) =>
        Seq(lit(cid), litD(e))
      }: _*)
      dist2D(slice(col("rq"), s * sub + 1, sub),
        element_at(lut, col("codes").getItem(s)))
    }.reduce(_ + _)
    val scored = cellC.join(broadcast(cellQ), Seq("cent_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), (-adist).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    prunePartitionTopK(scored, k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank").cast("long"),
        floor(-col("sim") * 1e6).cast("long").as("adist_micro"))
  }

  /** IVF index maintenance: per-cell occupancy with a deterministic
    * split proposal for skewed cells — the re-balance report a
    * production ANN index runs as vectors accumulate (FAISS surfaces
    * the same imbalance via `imbalance_factor`). A cell is oversized
    * when its member count exceeds `factorPct`% of the mean occupancy
    * (decided by integer cross-multiplication — `n·n_cells·100 >
    * factorPct·total` — so no engine rounds a ratio). For each oversized
    * cell the proposal is one deterministic Lloyd seed-split: seeds =
    * the cell's min- and max-id members, every member assigned to its
    * nearer seed by cosine (ties to the min-id seed), reported as the
    * two sub-cell sizes — the balance check a re-trainer would act on.
    *
    * Scale shape: the cell index is the [[ivfCellIndex]] map-side
    * argmax; occupancy is one count shuffle on cell ids; seeds ride
    * the SAME aggregate (min/max structs), so the split assignment is
    * a broadcast of the (2·oversized-cells)-row seed table back onto
    * the members — no second corpus shuffle beyond the sub-count
    * rollup on cell ids.
    */
  /** Per-cell occupancy flags + deterministic split seeds — the
    * stage shared by [[ivfOccupancy]] (the report) and
    * [[ivfSplitExecute]] (the act), so the executed split is exactly
    * the proposed one. One count shuffle; seed vectors ride the same
    * aggregate as (id, vector) struct extrema.
    */
  private def occupancyFlags(cells: DataFrame,
      factorPct: Long): DataFrame = {
    val counts = cells.groupBy("cent_id").agg(
      count(lit(1)).as("n_members"),
      min(struct(col("cand_id"), col("candv"))).as("sa"),
      max(struct(col("cand_id"), col("candv"))).as("sb"))
    val totals = counts.agg(sum("n_members").as("total"),
      count(lit(1)).as("n_cells"))
    counts.crossJoin(broadcast(totals))
      .withColumn("oversized",
        when(col("n_members") * col("n_cells") * lit(100L) >
          lit(factorPct) * col("total"), 1L).otherwise(0L))
      .select(col("cent_id"), col("n_members"), col("oversized"),
        col("sa.cand_id").as("seed_a"), col("sa.candv").as("va"),
        col("sb.cand_id").as("seed_b"), col("sb.candv").as("vb"))
  }

  def ivfOccupancy(corpus: DataFrame, idCol: String, vecCol: String,
      centroidFilter: Column, factorPct: Long = 200L): DataFrame = {
    val cells = ivfCellIndex(corpus, idCol, vecCol, centroidFilter)
    val flagged = occupancyFlags(cells, factorPct)
    val seeds = broadcast(flagged.filter(col("oversized") === 1)
      .select(col("cent_id"), col("seed_a"), col("va"),
        l2norm(col("va")).as("na"),
        col("seed_b"), col("vb"), l2norm(col("vb")).as("nb")))
    val subCounts = cells.join(seeds, Seq("cent_id"))
      .withColumn("to_a",
        when(cosinePre(dot(col("candv"), col("va")), col("candn"),
            col("na")) >=
          cosinePre(dot(col("candv"), col("vb")), col("candn"),
            col("nb")), 1L).otherwise(0L))
      .groupBy("cent_id")
      .agg(sum(col("to_a")).as("n_a"),
        (count(lit(1)) - sum(col("to_a"))).as("n_b"))
    flagged.join(subCounts, Seq("cent_id"), "left")
      .select(col("cent_id"), col("n_members"), col("oversized"),
        when(col("oversized") === 1, col("seed_a")).as("seed_a"),
        when(col("oversized") === 1, col("seed_b")).as("seed_b"),
        col("n_a"), col("n_b"))
  }

  /** Execute [[ivfOccupancy]]'s split proposals: every oversized cell
    * is replaced by TWO centroids — the fixed-point element means of
    * its seed-split halves (one Lloyd update restricted to the cell,
    * seeded by the same deterministic (min-id, max-id) pair the
    * report proposed, via the shared [[occupancyFlags]] stage so the
    * executed split is exactly the audited one). Output is one row
    * per (split cell, sub ∈ {a, b}, dimension) in [[kmeansUpdate]]'s
    * exact mean arithmetic — floor(x·1e6) integers summed, one floor
    * of the exact quotient — so [[centroidsFromMeans]] assembles the
    * new centroids bit-reproducibly and healthy cells (not emitted)
    * keep their existing ones.
    *
    * Scale shape: one cell-index pass; the vector explode runs ONLY
    * over oversized cells' members (the broadcast seed join drops the
    * rest map-side), then a (cell, sub, dim)-keyed partial-aggregated
    * shuffle of integer pairs.
    */
  def ivfSplitExecute(corpus: DataFrame, idCol: String, vecCol: String,
      centroidFilter: Column, factorPct: Long = 200L): DataFrame = {
    val cells = ivfCellIndex(corpus, idCol, vecCol, centroidFilter)
    val seeds = broadcast(occupancyFlags(cells, factorPct)
      .filter(col("oversized") === 1)
      .select(col("cent_id"), col("va"), l2norm(col("va")).as("na"),
        col("vb"), l2norm(col("vb")).as("nb")))
    cells.join(seeds, Seq("cent_id"))
      .withColumn("sub",
        when(cosinePre(dot(col("candv"), col("va")), col("candn"),
            col("na")) >=
          cosinePre(dot(col("candv"), col("vb")), col("candn"),
            col("nb")), lit("a")).otherwise(lit("b")))
      .select(col("cent_id"), col("sub"),
        posexplode(col("candv")).as(Seq("dim", "x")))
      .groupBy(col("cent_id"), col("sub"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * 1e6)).as("sx"))
      .select(col("cent_id"), col("sub"), col("dim").cast("long").as("dim"),
        col("n"), floor(col("sx") / col("n")).cast("long").as("mean_fixed"))
  }

  /** IVF-PQ with an exact refine stage (FAISS's IVFPQ+refine): the
    * compressed ADC pass produces a top-`rerank` SHORTLIST per query,
    * and only those Q·rerank candidates are re-scored against their
    * FULL vectors by exact cosine for the final top-`k`. This is the
    * production answer to PQ's quantization error: recall of the wide
    * compressed scan, precision of an exact pass whose cost is
    * bounded by the shortlist, not the corpus.
    *
    * Scale shape: the ADC stage is [[ivfPqTopK]] verbatim (codes-only
    * exchange). The refine stage BROADCASTS the Q·rerank shortlist
    * (already joined with the raw query vectors — both bounded by
    * design) against the corpus scan, so full vectors are never
    * shuffled: the hash-join filter drops non-shortlist rows map-side
    * and the exact cosine runs on the scan projection. Output carries
    * `adc_rank` next to the exact rank so the reordering the refine
    * pass exists to fix is visible.
    */
  def ivfPqRefineTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, coarseFilter: Column,
      pqFilter: Column, m: Int, dim: Int, k: Int, nprobe: Int,
      rerank: Int): DataFrame = {
    require(rerank >= k, "rerank must be >= k")
    val shortlist = ivfPqTopK(corpus, queries, idCol, vecCol,
        coarseFilter, pqFilter, m, dim, rerank, nprobe)
      .select(col("query_id"), col("cand_id"), col("rank").as("adc_rank"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2norm(col(vecCol)).as("qn"))
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      l2norm(col(vecCol)).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    broadcast(shortlist.join(qv, Seq("query_id")))
      .join(cv, Seq("cand_id"))
      .withColumn("sim",
        cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long"), col("cand_id"),
        floor(col("sim") * 1e6).cast("long").as("sim_micro"),
        col("adc_rank"))
  }

  /** [[ivfPqRefineTopK]] over the RESIDUAL encoding — the full FAISS
    * production composition (IVFPQ + residual + refine): the residual
    * ADC pass ([[ivfResidualPqTopK]]) produces the top-`rerank`
    * shortlist, exact cosine on the raw vectors re-ranks it to the
    * final top-`k`. Same refine scale shape as the raw path: the
    * Q·rerank shortlist broadcasts onto the corpus scan, full vectors
    * never shuffle, `adc_rank` rides beside the exact rank.
    */
  def ivfResidualPqRefineTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, coarseFilter: Column,
      pqFilter: Column, m: Int, dim: Int, k: Int, nprobe: Int,
      rerank: Int): DataFrame = {
    require(rerank >= k, "rerank must be >= k")
    val shortlist = ivfResidualPqTopK(corpus, queries, idCol, vecCol,
        coarseFilter, pqFilter, m, dim, rerank, nprobe)
      .select(col("query_id"), col("cand_id"), col("rank").as("adc_rank"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2norm(col(vecCol)).as("qn"))
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      l2norm(col(vecCol)).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    broadcast(shortlist.join(qv, Seq("query_id")))
      .join(cv, Seq("cand_id"))
      .withColumn("sim",
        cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long"), col("cand_id"),
        floor(col("sim") * 1e6).cast("long").as("sim_micro"),
        col("adc_rank"))
  }

  private def pqTopKWith(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, m: Int, dim: Int,
      books: IndexedSeq[Array[(Long, Array[Float])]], k: Int): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val sub = dim / m
    val codes = pqCodeArray(corpus, idCol, vecCol, m, dim, books)
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")))
    val adist = (0 until m).map { s =>
      val lut = map(books(s).toIndexedSeq.flatMap { case (cid, ce) =>
        Seq(lit(cid), array(ce.toIndexedSeq.map(lit(_)): _*))
      }: _*)
      dist2(slice(col("qv"), s * sub + 1, sub),
        element_at(lut, col("codes").getItem(s)))
    }.reduce(_ + _)
    val scored = codes.crossJoin(q)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (-adist).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    prunePartitionTopK(scored, k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank").cast("long"),
        floor(-col("sim") * 1e6).cast("long").as("adist_micro"))
  }

  /** Nearest-trained-centroid assignment as a ZERO-exchange projection
    * over folded centroid literals — the serving form of
    * [[kmeansTrain]]'s assignment step (centroids are driver state;
    * folding them as literals keeps the argmax inside whole-stage
    * codegen, the same move as the PQ lookup tables). Returns the
    * winning `struct(sim, tie, cell)` — the caller projects the
    * fields it needs. Tie rule matches the Lloyd step exactly:
    * max by (sim, −cent_id), i.e. ties to the smaller cell id.
    */
  def centroidAssignExpr(cents: Seq[(Long, Seq[Float])],
      vec: Column): Column = {
    require(cents.nonEmpty, "need at least one centroid")
    // native codegen loop (see [[graft.functions.CentroidArgminF]]) —
    // replaces greatest(struct(cosine, -id, id)) over folded literals:
    // same cosine op order (index-order double dot / norm product /
    // one division), same Double.compare total order, ties to the
    // smaller id. One compact loop at ANY centroid count instead of a
    // C·dim-node tree that overflowed the JIT ceiling past ~30 cells.
    graft.functions.VectorExpressions.centroidArgminF(vec, cents)
  }

  /** Clustering-quality card (the elbow/validation card a k selection
    * needs): for each seed modulus in `moduli`, train k-means
    * ([[kmeansTrain]], `iters` Lloyd rounds), assign every vector to
    * its trained centroid, and emit ONE exact-integer row —
    *
    *  - `inertia_micro`: Σ per-vector cosine distance to the assigned
    *    centroid, each distance floored to micro BEFORE the sum
    *    (integer sums are order-insensitive; double sums are not);
    *  - `silhouette_micro`: mean SIMPLIFIED silhouette (Hruschka et
    *    al. 2004) — per vector `(b−a)·10⁶ fdiv max(a,b)` with `a` the
    *    micro distance to its own centroid and `b` the micro distance
    *    to the nearest OTHER centroid; centroid distances stand in
    *    for the classic silhouette's O(n²) mean pairwise distances,
    *    which is exactly what keeps the metric computable at corpus
    *    scale — then floor-divided once more for the mean;
    *  - `n_cells`: trained cells actually holding vectors.
    *
    * Scale shape: per modulus the train is [[kmeansTrain]]'s
    * two-shuffle-per-round plan; the final assignment scores
    * |corpus|·k pairs against BROADCAST centroids and
    * [[prunePartitionTopK]] keeps only each vector's best + runner-up
    * cells map-side, so the ranking shuffle moves 2·|corpus| rows,
    * never the product. The card itself is a scalar aggregate.
    *
    * Determinism: assignment ties to the smaller cent_id (the ranking
    * window's order), distances floor to micro per pair, and both
    * divisions are the portable floor-division (`a − pmod(a,m)` then
    * integer `div` — int64-exact), so the oracle reproduces the card
    * bit-for-bit by replaying the same op order.
    */
  def clusterQualityCard(corpus: DataFrame, idCol: String, vecCol: String,
      moduli: Seq[Int], iters: Int): DataFrame = {
    def fd(a: Column, m: Column): Column =
      call_function("div", a - pmod(a, m), m)
    moduli.map { m =>
      val means = TrainedIndexStore.kmeansMeans(corpus, idCol, vecCol,
        col(idCol) % m === 0, iters)
      val cents = broadcast(centroidsFromMeans(means)
        .select(col("cent_id").as("cand_id"), col("ce"),
          l2norm(col("ce")).as("cn")))
      val base = corpus.select(col(idCol).as("query_id"),
        col(vecCol).as("v"), l2norm(col(vecCol)).as("vn"))
      val scored = base.crossJoin(cents)
        .withColumn("sim",
          cosinePre(dot(col("v"), col("ce")), col("vn"), col("cn")))
        .select(col("query_id"), col("cand_id"), col("sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("cand_id").asc)
      val ranked = prunePartitionTopK(scored, 2)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 2)
        .withColumn("d_micro",
          lit(1000000L) - floor(col("sim") * 1e6).cast("long"))
      val ab = ranked.groupBy(col("query_id"))
        .agg(
          max(when(col("rank") === 1, col("d_micro"))).as("a"),
          max(when(col("rank") === 1, col("cand_id"))).as("cell"),
          max(when(col("rank") === 2, col("d_micro"))).as("b"))
        .withColumn("s_micro",
          when(greatest(col("a"), col("b")) === 0, lit(0L))
            .otherwise(fd((col("b") - col("a")) * lit(1000000L),
              greatest(col("a"), col("b")))))
      ab.agg(
          count(lit(1)).as("n_vecs"),
          countDistinct(col("cell")).as("n_cells"),
          sum(col("a")).as("inertia_micro"),
          fd(sum(col("s_micro")), count(lit(1))).as("silhouette_micro"))
        .select(lit(m.toLong).as("modulus"), col("n_vecs"),
          col("n_cells"), col("inertia_micro"), col("silhouette_micro"))
    }.reduce(_.unionByName(_))
  }
}
