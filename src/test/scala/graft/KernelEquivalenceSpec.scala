package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Lower
import org.apache.spark.sql.functions.{array, col, is_valid_utf8, lower, transform}

import graft.core.{ExecutedPlans, Tables}
import graft.functions.{HashKernelFunctions, LowerIcu, StringKernels}
import graft.pipeline.{Curation, TextFunctions}

/** Native kernels must be element-for-element identical to their HOF
  * reference formulations over real corpus data (the HOF forms are
  * what the DuckDB oracles mirror).
  */
class KernelEquivalenceSpec extends SparkSpec {

  test("ShinglesK kernel equals the HOF shingles for k=3 and k=4") {
    val docs = Tables.read(spark, sf001, "documents")
    for (k <- Seq(3, 4)) {
      val toks = TextFunctions.tokens(col("text"))
      val mismatches = docs.select(
        col("doc_id"),
        HashKernelFunctions.shingles(toks, k).as("kernel"),
        TextFunctions.shingles(toks, k).as("hof"))
        .filter(!(col("kernel") <=> col("hof")))
        .count()
      assert(mismatches == 0L, s"k=$k: $mismatches docs differ")
    }
  }

  test("ShinglesK handles short and empty token arrays") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b"),        // fewer tokens than k
      (2L, ""),           // empty text
      (3L, "x x x x x"),  // duplicate shingles collapse
      (4L, "a b c d")     // exact window count
    ).toDF("id", "text")
    val toks = TextFunctions.tokens(col("text"))
    val rows = df.select(
      col("id"),
      HashKernelFunctions.shingles(toks, 3).as("kernel"),
      TextFunctions.shingles(toks, 3).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"id=${r.getLong(0)}")
    }
    val x = rows.find(_.getLong(0) == 3L).get.getSeq[String](1)
    assert(x == Seq("x x x"))
  }

  test("WinnowFps kernel equals the HOF winnow formulation over real docs") {
    val docs = Tables.read(spark, sf001, "documents")
    for ((k, w) <- Seq((3, 4), (2, 3))) {
      val mismatches = docs.select(
        col("doc_id"),
        HashKernelFunctions.winnowFps(
          TextFunctions.tokens(col("text")), k, w).as("kernel"),
        graft.pipeline.Curation.winnowFpsHof("text", k, w).as("hof"))
        .filter(!(col("kernel") <=> col("hof")))
        .count()
      assert(mismatches == 0L, s"k=$k w=$w: $mismatches docs differ")
    }
  }

  test("WinnowFps handles short docs: no shingle -> empty, few hashes -> distinct") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b"),          // < k tokens: no fingerprints
      (2L, ""),             // empty text
      (3L, "a b c d"),      // 2 hashes < w: both distinct survive
      (4L, "a b c a b c a b c")  // repeats: dedup to few fps
    ).toDF("id", "text")
    val rows = df.select(
      col("id"),
      HashKernelFunctions.winnowFps(
        TextFunctions.tokens(col("text")), 3, 4).as("kernel"),
      graft.pipeline.Curation.winnowFpsHof("text", 3, 4).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id=${r.getLong(0)}")
    }
    assert(rows.find(_.getLong(0) == 1L).get.getSeq[Long](1).isEmpty)
    assert(rows.find(_.getLong(0) == 3L).get.getSeq[Long](1).size == 2)
  }

  /** Rows where the native lowercase differs from Spark's `lower`,
    * compared byte for byte: projected (whole-stage codegen) and
    * inside a higher-order function's lambda (interpreted).
    */
  private def lowerMismatches(df: DataFrame): Long =
    df.filter(!(StringKernels.lowerIcu(col("s")) <=> lower(col("s"))) ||
        !(transform(array(col("s")), t => StringKernels.lowerIcu(t)) <=>
          transform(array(col("s")), t => lower(t))))
      .count()

  test("LowerIcu kernel equals Spark lower over real docs") {
    val docs = Tables.read(spark, sf001, "documents")
      .select(col("text").as("s"))
    assert(lowerMismatches(docs) == 0L)
  }

  test("LowerIcu kernel equals Spark lower on Unicode, empty, null and invalid UTF-8") {
    import spark.implicits._
    val fixtures = Seq("ΟΔΟΣ", "İ", "ǅ", "ẞ", "\u212A", "Hi \uD83D\uDE00 THERE",
        "", null).toDF("s")
      .unionByName(Seq(Array[Byte](0x41, 0xC3.toByte, 0x28, 0xFF.toByte))
        .toDF("b").select(col("b").cast("string").as("s")))
      // a checkpoint, not a LocalRelation: the optimizer would evaluate
      // projections over local rows itself, interpreted
      .localCheckpoint()
    // non-vacuous: the invalid byte sequence survives as the input
    assert(fixtures.filter(!is_valid_utf8(col("s"))).count() == 1L)
    assert(lowerMismatches(fixtures) == 0L)
    val sigma = fixtures.filter(col("s") === "ΟΔΟΣ")
      .select(StringKernels.lowerIcu(col("s"))).as[String].head()
    // ICU's context-sensitive final sigma
    assert(sigma == "\u03BF\u03B4\u03BF\u03C2", sigma)
  }

  test("lowercasing operators run the native kernel, never Spark's Lower") {
    val docs = Tables.read(spark, sf0001, "documents")
    val cases = Seq(
      "funnelLabels" -> Curation.funnelLabels(docs, "doc_id", "text"),
      "bpeTokens" -> docs.select(TextFunctions.bpeTokens(col("text"))),
      "ccnetNormalize" -> docs.select(TextFunctions.ccnetNormalize(col("text"))))
    for ((name, df) <- cases) {
      val exprs = ExecutedPlans.nodes(ExecutedPlans.capture(spark) {
          df.write.format("noop").mode("overwrite").save()
        }).flatMap(_.expressions.flatMap(_.collect { case e => e }))
      assert(!exprs.exists(_.isInstanceOf[Lower]), s"$name runs Spark's lower")
      assert(exprs.exists(_.isInstanceOf[LowerIcu]),
        s"$name runs no native lowercase")
    }
  }
}
