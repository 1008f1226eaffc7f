package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-slope card (round-14 review item #5): the verified sweep
  * tops out at sf0.1, so this main measures how each operator FAMILY's
  * wall time actually grows — sf0.01 → sf0.1 (10×) → a synthetic
  * sf1-equivalent (10× again, built from sf0.1 with the engine's own
  * closed-form fixture moves) — and writes per-family slope exponents
  * to `SCALING.json`. A family whose large-scale exponent exceeds
  * ~linear is flagged; that list (ideally empty) is the SURVEY's
  * superlinear watch.
  *
  * The synthetic corpus is 10 shifted copies of the sf0.1 tables,
  * decorrelated so the copy trick cannot fabricate sublinear OR
  * superlinear artifacts:
  *  - documents: copy k > 0 suffixes every token with `_k` (the p177
  *    fixture's token-surgery move) — shingle/minhash/vocab spaces
  *    grow with the corpus as a real corpus's would, and no cross-copy
  *    near-duplicate pairs exist to quadratically inflate pair counts;
  *    per-copy duplicate structure is preserved exactly.
  *  - embeddings: copy k rotates each vector k components (norms
  *    preserved, cross-copy cosine decorrelated — the p79-style
  *    closed-form perturbation).
  * Per-family timings are medians of `repeat` runs with all trained
  * stores cleared per run (COLD — scaling of the compute itself).
  */
object Scaling {

  private case class Family(name: String, query: String)

  /** One representative per family, restricted to queries that read
    * only the documents/embeddings tables (the two the synthetic
    * sf1-equivalent carries). The brute-force cosine top-k baseline
    * (p05) is EXCLUDED by design: it is O(N²) on purpose — the scale
    * path is its IVF-PQ twin, which is measured.
    */
  private val families = Seq(
    Family("dedup_exact", "p01_exact_dedup"),
    Family("dedup_minhash_lsh", "p02_minhash_lsh"),
    Family("dedup_simhash", "p03_simhash"),
    Family("dedup_ngram_jaccard", "p04_ngram_jaccard"),
    Family("ann_lsh", "p06_ann_lsh"),
    Family("embed_near_dup", "p07_embed_near_dup"),
    Family("text_lang_id", "p08_lang_id"),
    Family("text_quality", "p09_quality"),
    Family("text_tokens", "p10_tokens"),
    Family("retrieval_bm25", "p112_bm25"),
    Family("graph_pagerank", "p138_pagerank_hubs"),
    Family("manifest_interleave", "p163_mix_interleave"),
    Family("ann_ivf_pq", "p74_ivfpq"),
    Family("web_front_end", "p194_web_admission"))

  /** 10 shifted copies of the sf0.1 documents/embeddings tables —
    * ids offset per copy, content decorrelated per the header note.
    * Idempotent: an existing directory is reused.
    */
  private[graft] def synthesize(spark: SparkSession, src: String,
      dest: String, copies: Int): Unit = {
    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dest/_SYNTH_DONE"))) return
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val docStride = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val vecStride = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val docCopies = (0 until copies).map { k =>
      val text =
        if (k == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          x => concat(x, lit(s"_$k"))), " ")
      docs.select(
        (col("doc_id") + lit(k * docStride)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
    val embCopies = (0 until copies).map { k =>
      val rot = k % dim
      val rotated =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, dim - rot),
          slice(col("embedding"), 1, rot))
      emb.select((col("vec_id") + lit(k * vecStride)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
    docCopies.repartition(8)
      .write.mode("overwrite").parquet(s"$dest/documents.parquet")
    embCopies.repartition(8)
      .write.mode("overwrite").parquet(s"$dest/embeddings.parquet")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dest/_SYNTH_DONE"))
  }

  private def timeOne(spark: SparkSession, query: String, dir: String,
      repeat: Int): Double = {
    val runs = (1 to repeat).map { _ =>
      // cold stores: the scaling of the compute itself, not of the
      // within-session memoization
      graft.pipeline.ArtifactStore.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(query)(spark, dir).count()
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      t
    }.sorted
    runs(runs.size / 2)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.build("local[32]", 32)
    val small = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL",
      "/root/testdata/sf0.01")
    val mid = sys.env.getOrElse("SPARK_GRAFT_SF_MID",
      "/root/testdata/sf0.1")
    val big = sys.env.getOrElse("SPARK_GRAFT_SF1EQ_DIR",
      "/tmp/graft_sf1eq")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    synthesize(spark, mid, big, copies = 10)
    // JVM + codegen warmup so the smallest scale isn't charged for
    // first-query classloading
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    def ex(t2: Double, t1: Double): Double =
      math.log(math.max(t2, 1e-3) / math.max(t1, 1e-3)) / math.log(10.0)
    val rows = families.map { f =>
      val ts = timeOne(spark, f.query, small, repeat)
      val tm = timeOne(spark, f.query, mid, repeat)
      val tb = timeOne(spark, f.query, big, repeat)
      val (es, el) = (ex(tm, ts), ex(tb, tm))
      println(f"${f.name}%-22s ${ts}%8.2f ${tm}%8.2f ${tb}%8.2f" +
        f"  exp ${es}%5.2f ${el}%5.2f")
      (f, ts, tm, tb, es, el)
    }
    // the LARGE-scale exponent is the flag: sub-second small-scale
    // times are fixed-overhead-dominated and read as flat slopes,
    // which is fine — only growth FASTER than linear is a scale risk
    val flagged = rows.filter(_._6 > 1.2).map(_._1.name)
    val fam = rows.map { case (f, ts, tm, tb, es, el) =>
      s"""    "${f.name}": {"query": "${f.query}",
         |      "sec": {"sf0.01": ${f"$ts%.3f"}, "sf0.1": ${f"$tm%.3f"}, "sf1eq": ${f"$tb%.3f"}},
         |      "exponent_small_to_mid": ${f"$es%.3f"}, "exponent_mid_to_large": ${f"$el%.3f"},
         |      "superlinear": ${el > 1.2}}""".stripMargin
    }.mkString(",\n")
    val json =
      s"""{
         |  "what": "per-family wall-time slope, sf0.01 -> sf0.1 -> synthetic sf1-equivalent (10x sf0.1, decorrelated copies); exponent = log10(t2/t1) per 10x rows; >1.2 at the large step flags superlinear growth",
         |  "repeat": $repeat, "stores": "cold per run",
         |  "superlinear_families": [${flagged.map("\"" + _ + "\"").mkString(", ")}],
         |  "families": {
         |$fam
         |  }
         |}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALING.json"),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
