package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter, ArrayTransform, Lower, Sequence}
import org.apache.spark.sql.functions._

import graft.core.{ExecutedPlans, Tables}
import graft.functions.{FunnelCounters, HashKernelFunctions, LowerIcu, StringKernels}
import graft.pipeline.{Curation, Similarity, TextFunctions}

/** Native kernels must be element-for-element identical to their HOF
  * reference formulations over real corpus data (the HOF forms are
  * what the DuckDB oracles mirror).
  */
class KernelEquivalenceSpec extends SparkSpec {

  /** Reference HOF formulation of [[TextFunctions.shingles]], the
    * form the DuckDB oracles mirror.
    */
  private def hofShingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k))))))
      .otherwise(array().cast("array<string>"))

  test("ShinglesK kernel equals the HOF shingles for k=3 and k=4") {
    val docs = Tables.read(spark, sf001, "documents")
    for (k <- Seq(3, 4)) {
      val toks = TextFunctions.tokens(col("text"))
      val mismatches = docs.select(
        col("doc_id"),
        HashKernelFunctions.shingles(toks, k).as("kernel"),
        hofShingles(toks, k).as("hof"))
        .filter(!(col("kernel") <=> col("hof")))
        .count()
      assert(mismatches == 0L, s"k=$k: $mismatches docs differ")
    }
  }

  test("ShinglesK handles short and empty token arrays") {
    import spark.implicits._
    val df = Seq[(Long, String)](
      (1L, "a b"),        // fewer tokens than k
      (2L, ""),           // empty text
      (3L, "x x x x x"),  // duplicate shingles collapse
      (4L, "a b c d"),    // exact window count
      (5L, null)          // null text: the kernel gives null, both forms []
    ).toDF("id", "text")
    val toks = TextFunctions.tokens(col("text"))
    val rows = df.select(
      col("id"),
      TextFunctions.shingles(toks, 3).as("kernel"),
      hofShingles(toks, 3).as("hof"),
      HashKernelFunctions.shingles(toks, 3).as("raw"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"id=${r.getLong(0)}")
      if (r.getLong(0) != 5L)
        assert(r.getSeq[String](3) == r.getSeq[String](1), s"id=${r.getLong(0)}")
    }
    val x = rows.find(_.getLong(0) == 3L).get.getSeq[String](1)
    assert(x == Seq("x x x"))
    val nul = rows.find(_.getLong(0) == 5L).get
    assert(nul.getSeq[String](1).isEmpty && nul.isNullAt(3))
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

  // ------------------------------------------------ funnel counters

  /** The funnel counters as the per-gate Column formulation computed
    * them: ~15 higher-order-function and regex passes over the text
    * (null text: a null struct, as the kernel gives).
    */
  private def hofCounters(text: Column, minLineWords: Int,
      requireTerminalPunct: Boolean): Column = {
    val toks = TextFunctions.tokens(text)
    val lowered = transform(toks, t => StringKernels.lowerIcu(t))
    val lines = split(text, "\n")
    val endsTerminal = (l: Column) =>
      substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"")
    def chars(re: String) =
      (length(text) - length(regexp_replace(text, re, ""))).cast("long")
    def nLines(p: Column => Column) = size(filter(lines, p)).cast("long")
    when(text.isNotNull, struct(
      size(toks).cast("long").as("n_toks"),
      aggregate(toks, lit(0L), (acc, x) => acc + length(x)).as("sum_len"),
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
        .as("n_alpha_words"),
      TextFunctions.gopherStopwords.map(w =>
        when(array_contains(lowered, w), 1L).otherwise(0L)).reduce(_ + _)
        .as("n_stop_present"),
      TextFunctions.stopwordHits(toks, TextFunctions.stopwords.head._2)
        .cast("long").as("n_en_stop"),
      length(text).cast("long").as("n_chars"),
      chars("#").as("n_hash"),
      TextFunctions.punctCount(text).cast("long").as("n_punct"),
      chars("[.!?]").as("n_sentences"),
      when(text.like("%{%"), 1L).otherwise(0L).as("has_brace"),
      size(lines).cast("long").as("n_lines"),
      nLines(l => rtrim(l).like("%...")).as("n_ellipsis_lines"),
      nLines(l => substring(ltrim(l), 1, 1).isin("-", "*", "\u2022"))
        .as("n_bullet_lines"),
      nLines(endsTerminal).as("n_punct_lines"),
      nLines(l => size(split(trim(l), "\\s+")) >= minLineWords &&
        (if (requireTerminalPunct) endsTerminal(l) else lit(true)))
        .as("n_kept")))
  }

  /** Per counter, the rows where the kernel and the HOF columns differ. */
  private def counterMismatches(texts: DataFrame): Map[String, Long] = {
    val profiles = Seq(Curation.GateProfile.published,
      Curation.GateProfile.wordSalad)
    profiles.flatMap { p =>
      val k = FunnelCounters.column(col("s"),
        TextFunctions.gopherStopwords, TextFunctions.stopwords.head._2,
        p.minLineWords, p.requireTerminalPunct)
      val h = hofCounters(col("s"), p.minLineWords, p.requireTerminalPunct)
      val row = texts.select(k.as("k"), h.as("h"))
        .select(FunnelCounters.fields.map(f =>
          sum(when(col("k").getField(f) <=> col("h").getField(f), 0L)
            .otherwise(1L)).as(f)) :+
          sum(when(col("k").isNull === col("h").isNull, 0L).otherwise(1L))
            .as("null"): _*)
        .head()
      row.schema.fieldNames.map(f =>
        s"${p.minLineWords}/${p.requireTerminalPunct}/$f" ->
          row.getAs[Long](f)).toSeq
    }.filter(_._2 != 0L).toMap
  }

  private def textFixtures: DataFrame = {
    val sp = spark
    import sp.implicits._
    Seq(
      "Hello world. This line has enough words to keep!\nshort one\n",
      "\tTab-led text with a leading empty token",
      "\nNewline-led text\n\nwith an empty line.",
      "trailing tab\t", "  spaced  out  words  ", "   ", "", null,
      "The THE tHe be TO of and That HAVE with — gopher words",
      "a an OF the in IS it that It Is In a the",
      "- bullet one\n* star two\n\u2022 dot three\n   - indented four",
      "ends...   \nmore... \nnot..\n...",
      "{brace} # hash ## ; : , ! ? . \"quote\"\n\"",
      "Unicode ΟΔΟΣ İstanbul ǅemal naïve “quoted” … résumé ẞ",
      "non\u00A0breaking and\u3000ideographic spaces stay in tokens",
      "\r\nwindows\r\nline ends here.\r\n",
      "emoji \uD83D\uDE00 surrogate \uD83D\uDE00 pairs!",
      "Kelvin \u212A sign and vertical\u000Btab and form\u000Cfeed",
      "one two three four five.\nsix seven eight nine ten!\nx y z?"
    ).toDF("s")
      .unionByName(Seq(Array[Byte](0x41, 0xC3.toByte, 0x28, 0xFF.toByte,
          0x23, 0x2E)).toDF("b").select(col("b").cast("string").as("s")))
      // a checkpoint, not a LocalRelation: the projection runs codegen'd
      .localCheckpoint()
  }

  test("funnel counters kernel equals the HOF columns on sf0.001 docs") {
    val docs = Tables.read(spark, sf0001, "documents").select(col("text").as("s"))
    assert(counterMismatches(docs).isEmpty, counterMismatches(docs))
  }

  test("funnel counters kernel equals the HOF columns on multi-line, tab-led, Unicode, empty, all-space and null texts") {
    val fixtures = textFixtures
    val bad = counterMismatches(fixtures)
    assert(bad.isEmpty, bad)
    // non-vacuous: the fixtures exercise every counter
    val sums = fixtures.select(FunnelCounters.column(
        col("s"), TextFunctions.gopherStopwords,
        TextFunctions.stopwords.head._2, 3, requireTerminalPunct = false)
      .as("k"))
      .select(FunnelCounters.fields.map(f => sum(col("k").getField(f)).as(f)): _*)
      .head()
    FunnelCounters.fields.foreach(f => assert(sums.getAs[Long](f) > 0L, f))
  }

  test("funnel gates on a null text give the flags the HOF gates gave") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, None: Option[String])).toDF("doc_id", "text")
      .localCheckpoint()
    val g = Curation.gopherGates(docs, "doc_id", "text").head()
    assert(g.isNullAt(g.fieldIndex("n_toks")) && g.getAs[Long]("keep") == 0L)
    val c = Curation.c4PageGates(docs, "doc_id", "text").head()
    assert(c.getAs[Long]("has_brace") == 0L && c.getAs[Long]("has_lorem") == 0L &&
      c.getAs[Long]("page_keep") == 0L && c.isNullAt(c.fieldIndex("n_lines")))
    // `least` skips nulls, so a null text's composite score is 0.8 (a
    // pass) on both formulations; the Gopher and C4 gates reject it
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val f = Curation.funnelFlags(docs, "doc_id", "text").head()
    assert(f.getAs[Long]("score_keep") == 1L && f.getAs[Long]("keep") == 0L &&
      f.getAs[Long]("page_keep") == 0L)
  }

  test("funnelLabels evaluates the counters kernel once per row, no HOF over the text") {
    val docs = Tables.read(spark, sf0001, "documents")
    for (p <- Seq(Curation.GateProfile.published, Curation.GateProfile.wordSalad)) {
      val nodes = ExecutedPlans.nodes(ExecutedPlans.capture(spark) {
        Curation.funnelLabels(docs, "doc_id", "text", profile = p)
          .write.format("noop").mode("overwrite").save()
      })
      val exprs = nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      val kernels = exprs.count(_.isInstanceOf[FunnelCounters])
      assert(kernels == 1, s"counters kernel evaluated $kernels times per row")
      val hofs = exprs.filter(e =>
        e.isInstanceOf[ArrayFilter] || e.isInstanceOf[ArrayAggregate])
      assert(hofs.isEmpty, hofs.map(_.sql.take(120)).mkString("\n"))
    }
  }

  // ------------------------------------------------ hashing

  test("native hash60 equals conv(substring(md5(c), 1, 15), 16, 10)") {
    val sp = spark
    import sp.implicits._
    val toks = Tables.read(spark, sf001, "documents")
      .select(explode(TextFunctions.tokens(col("text"))).as("s"))
      .unionByName(Seq("", "abc", "ΟΔΟΣ \uD83D\uDE00", null).toDF("s"))
      .localCheckpoint()
    val plain = conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")
    val bad = toks.filter(!(TextFunctions.hash60(col("s")) <=> plain)).count()
    assert(bad == 0L, s"$bad strings hash differently")
    // inside a lambda (interpreted) and as one array kernel
    val arr = toks.agg(collect_list(col("s")).as("a"))
    val modRow = arr.select(
      transform(col("a"), t =>
        conv(substring(md5(t), 1, 15), 16, 10).cast("long") % 64).as("h"),
      transform(col("a"), t => TextFunctions.hash60(t) % 64).as("i"),
      HashKernelFunctions.hash60Mod(col("a"), 64).as("k")).head()
    assert(modRow.getSeq[Long](0) == modRow.getSeq[Long](1))
    assert(modRow.getSeq[Long](0) == modRow.getSeq[Long](2))
    // the driver-side weights hash the same bytes
    val w = Similarity.planeWeights(3, 4).toSeq
    val ref = (1 to 4).map(i => Seq(s"hp3_$i").toDF("s").select(plain).as[Long]
      .head() % 2001L - 1000L).map(_.toFloat)
    assert(w == ref)
  }

  /** [[Similarity.withHashedDocVector]]'s per-slot HOF formulation. */
  private def hofDocVector(feats: Column, dim: Int): Column = {
    val bs = transform(filter(feats, f => length(f) > 0), f =>
      struct((TextFunctions.hash60(f) % dim).as("b"),
        when(TextFunctions.hash60(concat(lit("fs"), f)) % 2 === 0, 1L)
          .otherwise(-1L).as("s")))
    transform(sequence(lit(0), lit(dim - 1)), j =>
      aggregate(bs, lit(0L), (acc, x) =>
        acc + when(x.getField("b") === j, x.getField("s"))
          .otherwise(0L)).cast("float"))
  }

  test("hashed doc vector kernel equals the HOF formulation on random, empty, blank and null docs") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    val words = Seq("alpha", "beta", "gamma", "delta", "Ω", "", " ", "x y")
    val gen = (1 to 200).map { i =>
      val n = rnd.nextInt(12)
      (i.toLong, Option(Seq.fill(n)(words(rnd.nextInt(words.size)))
        .mkString(" ")))
    } ++ Seq((1001L, Some("")), (1002L, Some("     ")), (1003L, None))
    val docs = gen.toDF("doc_id", "text")
      .withColumn("f", TextFunctions.shingles(TextFunctions.tokens(col("text")), 2))
      .withColumn("raw", split(col("text"), " "))
      .localCheckpoint()
    for (dim <- Seq(1, 7, 128); c <- Seq("f", "raw")) {
      val bad = docs.filter(!(HashKernelFunctions.hashedDocVector(col(c), dim) <=>
        hofDocVector(col(c), dim))).count()
      assert(bad == 0L, s"dim=$dim $c: $bad docs differ")
    }
    // a null feature array gives dim nulls on both sides
    val nullRow = docs.filter(col("doc_id") === 1003L)
      .select(HashKernelFunctions.hashedDocVector(col("raw"), 4)).head()
    assert(nullRow.getSeq[Any](0) == Seq(null, null, null, null))
  }

  test("textNearDup builds its stream vectors without a per-slot HOF") {
    val docs = Tables.read(spark, sf0001, "documents")
    val plans =
      try ExecutedPlans.capture(spark) {
        graft.streaming.StreamingJobs.textNearDup(
            docs.filter(col("doc_id") < 50), docs, nprobe = 2,
            thresholdMicro = 900000L)
          .write.format("noop").mode("overwrite").save()
      } finally spark.catalog.clearCache()
    val exprs = ExecutedPlans.nodes(plans)
      .flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(exprs.exists(_.isInstanceOf[graft.functions.HashedDocVector]),
      "textNearDup runs no native doc-vector kernel")
    val perSlot = exprs.collect {
      case t: ArrayTransform if t.argument.isInstanceOf[Sequence] &&
          t.function.exists(_.isInstanceOf[ArrayAggregate]) => t
    }
    assert(perSlot.isEmpty, perSlot.map(_.sql.take(160)).mkString("\n"))
  }
}
