package graft

import org.apache.spark.sql.functions.{col, explode, lit, md5, substring,
  timestamp_micros, unix_micros, window}

class CliSpec extends SparkSpec {

  test("command table, usage text and aliases agree (no Spark job)") {
    val registry = SparkEntry.queries
    for ((cmd, key, _) <- Cli.queryCommands)
      assert(registry.contains(key), s"$cmd -> unregistered query $key")
    // the dispatcher accepts the table's commands and each bespoke
    // `case "<cmd>" ::` clause of Cli.dispatch
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Cli.scala")), "UTF-8")
    val bespoke = "case \"([\\w-]+)\" ::".r
      .findAllMatchIn(src.substring(src.indexOf("private def dispatch(")))
      .map(_.group(1)).toSet
    val accepted = bespoke ++ Cli.queryCommands.map(_._1)
    // usage command lines start with two spaces; continuations with more
    val listed = Cli.usageText.linesIterator
      .filter(l => l.startsWith("  ") && !l.startsWith("   "))
      .map(_.trim.split(" ").head).toSeq
    val twice = listed.diff(listed.distinct)
    assert(twice.isEmpty, s"listed more than once in usage: $twice")
    assert(listed.toSet == accepted,
      s"usage only: ${listed.toSet -- accepted}; " +
        s"dispatcher only: ${accepted -- listed.toSet}")
    for ((alias, target) <- Cli.aliases)
      assert(accepted(target), s"alias $alias -> unknown command $target")
  }

  test("CLI jobs run end-to-end on sf0.001") {
    val out = "/tmp/graft_cli_test"
    Cli.run(spark, List("transform", sf0001, "siteA", "orders", s"$out/transform"))
    assert(spark.read.parquet(s"$out/transform").columns.contains("site"))

    Cli.run(spark, List("merge", s"$out/merge", "nation", sf0001, sf0001))
    assert(spark.read.parquet(s"$out/merge").count() == 50L)

    Cli.run(spark, List("split", sf0001, "part", "p_size", s"$out/split"))
    assert(spark.read.parquet(s"$out/split/small").count() > 0)
    assert(new java.io.File(s"$out/split/other").exists())

    Cli.run(spark, List("dedup-exact", sf0001, s"$out/dedup"))
    assert(spark.read.parquet(s"$out/dedup").columns.toSet ==
      Set("fp", "keep_id", "n_copies"))

    // the perceptual/substring dedup family: plant pairs and per-doc
    // scrub rows come out non-empty on the tiny corpus
    Cli.run(spark, List("dedup-image", sf0001, s"$out/dimg"))
    assert(spark.read.parquet(s"$out/dimg").count() > 0)
    Cli.run(spark, List("dedup-audio", sf0001, s"$out/daud"))
    assert(spark.read.parquet(s"$out/daud").count() > 0)
    Cli.run(spark, List("dedup-substrings", sf0001, s"$out/dsub"))
    assert(spark.read.parquet(s"$out/dsub").count() ==
      spark.read.parquet(s"$sf0001/documents.parquet").count())

    // the curation composite: monotone non-increasing counts through
    // the stages, shard-partitioned output, deterministic re-run
    Cli.run(spark, List("curate", sf0001, s"$out/curated"))
    val curated = spark.read.parquet(s"$out/curated")
    val nDocs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(curated.count() > 0 && curated.count() <= nDocs)
    assert(curated.columns.contains("shard") && curated.columns.contains("pos"))
    assert(new java.io.File(s"$out/curated").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("shard=")))
    val n1 = curated.count()
    Cli.run(spark, List("curate", sf0001, s"$out/curated"))
    assert(spark.read.parquet(s"$out/curated").count() == n1)

    // ingesting the corpus into itself appends nothing — the
    // content-hash anti-join makes the append idempotent
    Cli.run(spark, List("ingest-dedup", sf0001, sf0001, s"$out/ingest"))
    assert(spark.read.parquet(s"$out/ingest").count() ==
      spark.read.parquet(s"$sf0001/documents.parquet").count())

    // bloom path: re-ingesting the corpus into itself appends nothing
    Cli.run(spark, List("ingest-bloom", sf0001, sf0001, s"$out/ingest_b"))
    assert(spark.read.parquet(s"$out/ingest_b").count() ==
      spark.read.parquet(s"$sf0001/documents.parquet").count())

    // vacuum = in-place compaction; the table stays readable with the
    // same rows and collapses to one data file at sf0.001
    val preVacuum = spark.read.parquet(s"$out/dedup").count()
    Cli.run(spark, List("vacuum", s"$out/dedup"))
    assert(spark.read.parquet(s"$out/dedup").count() == preVacuum)
    assert(new java.io.File(s"$out/dedup").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")) == 1)

    // the near-dup clustering, scrub, and segment-dedup jobs
    Cli.run(spark, List("dup-clusters", sf0001, s"$out/clusters"))
    val clusters = spark.read.parquet(s"$out/clusters")
    assert(clusters.columns.toSet == Set("doc_id", "cluster_id", "keep"))
    Cli.run(spark, List("scrub", sf0001, s"$out/scrub"))
    val scrubbed = spark.read.parquet(s"$out/scrub")
    assert(scrubbed.filter("clean LIKE '%<ID>%'").count() > 0)
    assert(scrubbed.filter("clean RLIKE '[0-9]'").count() == 0)
    Cli.run(spark, List("line-dedup", sf0001, s"$out/linededup"))
    assert(spark.read.parquet(s"$out/linededup")
      .filter("n_kept + n_dropped != n_segs").count() == 0)

    // JSONL roundtrip preserves rows and types
    Cli.run(spark, List("export-jsonl", sf0001, s"$out/jsonl"))
    Cli.run(spark, List("import-jsonl", s"$out/jsonl", s"$out/jsonl_back"))
    val orig = spark.read.parquet(s"$sf0001/documents.parquet")
    val back = spark.read.parquet(s"$out/jsonl_back")
    assert(back.schema == orig.schema)
    assert(back.except(orig).isEmpty && orig.except(back).isEmpty)

    // the remaining dataset-card / tokenizer-prep jobs run end-to-end
    Cli.run(spark, List("semantic-dedup", sf0001, s"$out/semdedup"))
    assert(spark.read.parquet(s"$out/semdedup")
      .filter("keep = 1").count() > 0)
    Cli.run(spark, List("vocab", sf0001, s"$out/vocab"))
    assert(spark.read.parquet(s"$out/vocab").count() > 0)
    Cli.run(spark, List("oov-rate", sf0001, s"$out/oov"))
    assert(spark.read.parquet(s"$out/oov")
      .filter("oov_micro < 0 OR oov_micro > 1000000").count() == 0)
    Cli.run(spark, List("length-quantiles", sf0001, s"$out/lq"))
    assert(spark.read.parquet(s"$out/lq").select("q").distinct().count() == 3)
    Cli.run(spark, List("mix-weights", sf0001, s"$out/mw"))
    assert(spark.read.parquet(s"$out/mw").filter("weight_micro <= 0").count() == 0)
    Cli.run(spark, List("source-overlap", sf0001, s"$out/overlap"))
    assert(spark.read.parquet(s"$out/overlap").columns.toSet ==
      Set("src_a", "src_b", "n_mirrored"))
    Cli.run(spark, List("histogram", sf0001, "lineitem", "l_quantity", s"$out/hist"))
    assert(spark.read.parquet(s"$out/hist")
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) ==
      spark.read.parquet(s"$sf0001/lineitem.parquet").count())
  }

  test("reference-name aliases and the per-step / copy / slice commands") {
    import org.apache.spark.sql.functions._
    val out = "/tmp/graft_cli_test4"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))

    // copy_weight_z under its reference name: appended rows carry the
    // weight-z concept id and ids past the source max
    Cli.run(spark, List("copy_weight_z", sf0001, s"$out/wz"))
    val wz = spark.read.parquet(s"$out/wz")
    assert(wz.filter(col("measurement_concept_id") === 2000000041L).count() > 0)

    // age_transform → the single age step; the full pipeline's site
    // column must NOT appear
    Cli.run(spark, List("age_transform", sf0001, "siteA", "orders", s"$out/age"))
    val age = spark.read.parquet(s"$out/age")
    assert(age.columns.contains("order_age_in_months") && !age.columns.contains("site"))

    // pcornet-slice: the age band keeps a strict, non-empty subset and
    // the FK closure holds (orders customers ⊆ sliced customers)
    Cli.run(spark, List("subset_pcornet_by_cohort", sf0001, "0", "22", s"$out/peds"))
    val c = spark.read.parquet(s"$out/peds/customer")
    val allC = spark.read.parquet(s"$sf0001/customer.parquet")
    assert(c.count() > 0 && c.count() < allC.count())
    val o = spark.read.parquet(s"$out/peds/orders")
    assert(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti").count() == 0)

    // unpartition flattens a partitioned layout, partition column intact
    spark.read.parquet(s"$sf0001/orders.parquet")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(s"$out/part")
    Cli.run(spark, List("unpartition_measurement", s"$out/part", s"$out/flat"))
    val flat = spark.read.parquet(s"$out/flat")
    assert(flat.count() == spark.read.parquet(s"$sf0001/orders.parquet").count())
    assert(flat.columns.contains("o_orderstatus"))

    // create-id-maps seeds an identity store; id-transform then maps
    // every key to itself and leaves no unmapped rows
    Cli.run(spark, List("create_id_maps", sf0001, "orders", s"$out/store"))
    Cli.run(spark, List("id_transform", sf0001, "orders", "o_custkey",
      s"$out/store", s"$out/idt"))
    val idt = spark.read.parquet(s"$out/idt")
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    assert(idt.count() == orders.count())
    assert(idt.select(sum(col("o_custkey"))).head.getLong(0) ==
      orders.select(sum(col("o_custkey"))).head.getLong(0))
  }

  test("derivation and store lifecycle subcommands") {
    val out = "/tmp/graft_cli_test2"
    Cli.run(spark, List("run-derivations", sf0001, s"$out/deriv"))
    for (pkg <- Seq("scdf_drug_era", "lab_loinc", "obs_derivation",
        "dose", "pcornet_covid_slice", "pcornet_adult_slice"))
      assert(spark.read.parquet(s"$out/deriv/$pkg").count() > 0, pkg)

    // run_r_query parity: generic dispatch of one named package equals
    // the package's direct run; unknown names fail loudly
    Cli.run(spark, List("run-query", "lab_loinc", sf0001, s"$out/rq"))
    assert(spark.read.parquet(s"$out/rq").count() ==
      spark.read.parquet(s"$out/deriv/lab_loinc").count())
    // the literal reference spelling (main.py run_r_query) must reach
    // the same dispatcher with the same arity — this was once shadowed
    // by a duplicate alias key that rewrote it to run-derivations
    Cli.run(spark,
      List("run_r_query", "lab_loinc", sf0001, s"$out/rq_ref"))
    assert(spark.read.parquet(s"$out/rq_ref").count() ==
      spark.read.parquet(s"$out/rq").count())
    Cli.run(spark,
      List("run_r_pcornet_covid_slice", sf0001, s"$out/covid"))
    assert(spark.read.parquet(s"$out/covid").count() == 3L)
    intercept[RuntimeException](
      Cli.run(spark, List("run-query", "nope", sf0001, s"$out/rq2")))

    // store lifecycle: save via copy, recount the counter, prune backups
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val store = s"$out/store"
    val m = Seq((10L, 1L), (20L, 7L)).toDF("site_id", "dcc_id")
    operators.IdMapStore.save(m, 2L, store, "orders") // stale counter
    Cli.run(spark, List("populate-last-id", store, "orders"))
    val (_, last) = operators.IdMapStore.load(spark, store, "orders")
    assert(last == 7L)
    Cli.run(spark, List("cleanup", store, "orders"))
    assert(!new java.io.File(s"$store/orders_ids__prev").exists())
    assert(spark.read.parquet(s"$store/orders_ids/map").count() == 2L)

    Cli.run(spark, List("views-sql", sf0001, "g1", s"$out/views.sql"))
    val sql = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/views.sql"))
    // whole-model fidelity: a create AND a grant per model table, with
    // upper-cased source columns aliased back to lower case
    assert(sql.contains("""CREATE OR REPLACE VIEW "G1"."lineitem""""), sql)
    assert(sql.contains(""""L_ORDERKEY" AS "l_orderkey""""), sql)
    assert(sql.contains("""GRANT SELECT ON "G1"."lineitem" TO "G1";"""), sql)
    val tpchTables = graft.model.PedsnetModel.tpch.tableSeq.size
    assert(sql.linesIterator.size == 2 * tpchTables, sql)

    // 4-arg reference signature: whole pedsnet model by version
    Cli.run(spark, List("create_oracle_views_sql", "3.3.0", "site_a", "dcc",
      s"$out/views33.sql"))
    val sql33 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/views33.sql"))
    assert(sql33.contains("""CREATE OR REPLACE VIEW "DCC"."drug_era""""), sql33)
    val v33Tables = graft.model.PedsnetModel.forVersion("3.3.0").tableSeq.size
    assert(sql33.linesIterator.size == 2 * v33Tables, sql33)
  }

  test("prepdb, concept-groups, and the post-load composite") {
    val out = "/tmp/graft_cli_test3"

    Cli.run(spark, List("prepdb", s"$out/prep.sql", "site_a", "dcc"))
    val ddl = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/prep.sql"))
    assert(ddl.contains("CREATE DATABASE IF NOT EXISTS site_a"))
    assert(ddl.contains("CREATE TABLE dcc.lineitem"))

    Cli.run(spark, List("concept-groups", sf0001, s"$out/groups"))
    val g = spark.read.parquet(s"$out/groups/lineitem_returnflag")
    assert(g.columns.toSeq == Seq("l_returnflag", "l_partkey", "n"))

    Cli.run(spark, List("post-load", s"$out/postload",
      s"siteA:$sf0001", s"siteB:$sf0001"))
    val merged = spark.read.parquet(s"$out/postload/dcc/orders")
    val one = spark.read.parquet(s"$sf0001/orders.parquet").count()
    assert(merged.count() == 2 * one)
    assert(spark.read.parquet(s"$out/postload/siteA/orders")
      .columns.contains("site"))
    assert(spark.read.parquet(s"$out/postload/dcc/checks").count() > 0)

    // incremental streaming from the CLI: AvailableNow drains the events
    // file source; watermark-closed windows land as parquet. A second
    // run against the same checkpoint sees no new files and emits
    // nothing — the incremental contract.
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/stream"))
    Cli.run(spark, List("stream-window", sf0001, s"$out/stream"))
    val streamed = spark.read.parquet(s"$out/stream").count()
    assert(streamed > 0)
    Cli.run(spark, List("stream-window", sf0001, s"$out/stream"))
    assert(spark.read.parquet(s"$out/stream").count() == streamed)

    // the dedup and sessionize jobs run through the same incremental
    // harness; watermark-closed output lands as parquet
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/sdedup"))
    Cli.run(spark, List("stream-dedup", sf0001, s"$out/sdedup"))
    assert(spark.read.parquet(s"$out/sdedup").count() > 0)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/ssess"))
    Cli.run(spark, List("stream-sessionize", sf0001, s"$out/ssess"))
    assert(spark.read.parquet(s"$out/ssess").count() > 0)

    // the stateless ingest gates drain one row per document, and the
    // funnel's flags match the batch per-row stage exactly
    val nDocsAll = spark.read.parquet(s"$sf0001/documents.parquet").count()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/sc4"))
    Cli.run(spark, List("stream-c4", sf0001, s"$out/sc4"))
    assert(spark.read.parquet(s"$out/sc4").count() == nDocsAll)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/sfun"))
    Cli.run(spark, List("stream-funnel", sf0001, s"$out/sfun"))
    val sfun = spark.read.parquet(s"$out/sfun")
    assert(sfun.count() == nDocsAll)
    val batchFlags = graft.pipeline.Curation.funnelFlags(
        spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "text")
      .select(col("doc_id"), col("score_keep"),
        col("keep").as("gopher_keep"), col("page_keep"))
    assert(sfun.select("doc_id", "score_keep", "gopher_keep", "page_keep")
      .exceptAll(batchFlags).count() == 0)

    // web family: the fixture-driven front end, the production path
    // over a real captures parquet, and the streaming gate — all
    // three must agree document-for-document
    Cli.run(spark, List("web-admission", sf0001, s"$out/webadm"))
    val webAdm = spark.read.parquet(s"$out/webadm")
    assert(webAdm.count() == nDocsAll)
    import spark.implicits._
    graft.pipeline.Web.encodeCaptures(
        spark.read.parquet(s"$sf0001/documents.parquet")
          .select(col("doc_id"), col("text")).as[(Long, String)])
      .toDF().write.mode("overwrite").parquet(s"$out/webcaps")
    Cli.run(spark, List("web-ingest", s"$out/webcaps", s"$out/webing"))
    assert(spark.read.parquet(s"$out/webing")
      .exceptAll(webAdm).count() == 0)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/sweb"))
    Cli.run(spark, List("stream-web", sf0001, s"$out/sweb"))
    assert(spark.read.parquet(s"$out/sweb")
      .exceptAll(webAdm).count() == 0)
    assert(spark.read.parquet(s"$out/sweb").count() == nDocsAll)

    // stream-perplexity: a one-shot drain emits exactly the batch
    // scores for every CLOSED window (the final watermark equals the
    // max event time, so only the last minute's window stays open)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/sppl"))
    Cli.run(spark, List("stream-perplexity", sf0001, s"$out/sppl"))
    val sppl = spark.read.parquet(s"$out/sppl")
      .select("ws_us", "doc_id", "n_tokens", "nll_micro", "avg_nll_micro")
    val C = graft.pipeline.Curation
    val docsTs = spark.read.parquet(s"$sf0001/documents.parquet")
      .withColumn("ts", timestamp_micros((col("doc_id") + 1) * 1000000L))
    val (costT, oovT) = C.unigramCostTables(
      C.tokenOccurrences(docsTs, "doc_id", "text"), vocabSize = 500)
    val toksB = docsTs.select(col("doc_id"), col("ts"),
      explode(graft.pipeline.TextFunctions.tokens(col("text"))).as("tok"))
    val batchPpl = C.unigramScore(toksB,
        Seq(window(col("ts"), "1 minute"), col("doc_id")), costT, oovT)
      .filter(unix_micros(col("window.end")) <= nDocsAll * 1000000L)
      .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
        col("n_tokens"), col("nll_micro"), col("avg_nll_micro"))
    assert(sppl.exceptAll(batchPpl).count() == 0 &&
      batchPpl.exceptAll(sppl).count() == 0)
    assert(sppl.count() > 0)

    // stream-bigram: same drain discipline, scores equal the batch
    // BigramModel for every closed window
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/sbg"))
    Cli.run(spark, List("stream-bigram", sf0001, s"$out/sbg"))
    val sbg = spark.read.parquet(s"$out/sbg")
      .select("ws_us", "doc_id", "n_tokens", "nll_micro", "avg_nll_micro")
    val bgModel = C.bigramModel(
      C.bigramOccurrences(docsTs, "doc_id", "text"), vocabSize = 500)
    val batchBg = C.bigramScore(
        C.bigramOccurrences(docsTs, "doc_id", "text", carry = Seq("ts")),
        Seq(window(col("ts"), "1 minute"), col("doc_id")), bgModel)
      .filter(unix_micros(col("window.end")) <= nDocsAll * 1000000L)
      .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
        col("n_tokens"), col("nll_micro"), col("avg_nll_micro"))
    assert(sbg.exceptAll(batchBg).count() == 0 &&
      batchBg.exceptAll(sbg).count() == 0)
    assert(sbg.count() > 0)

    // stream-kn: same drain discipline, scores equal the batch
    // KnBigramModel for every closed window
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/skn"))
    Cli.run(spark, List("stream-kn", sf0001, s"$out/skn"))
    val skn = spark.read.parquet(s"$out/skn")
      .select("ws_us", "doc_id", "n_tokens", "nll_micro", "avg_nll_micro")
    val knModel = C.knBigramModel(
      C.bigramOccurrences(docsTs, "doc_id", "text"), vocabSize = 500)
    val batchKn = C.knScore(
        C.bigramOccurrences(docsTs, "doc_id", "text", carry = Seq("ts")),
        Seq(window(col("ts"), "1 minute"), col("doc_id")), knModel)
      .filter(unix_micros(col("window.end")) <= nDocsAll * 1000000L)
      .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
        col("n_tokens"), col("nll_micro"), col("avg_nll_micro"))
    assert(skn.exceptAll(batchKn).count() == 0 &&
      batchKn.exceptAll(skn).count() == 0)
    assert(skn.count() > 0)

    // stream-funnel: the two-drain sentinel cycle flushes every real
    // advance; stage times equal the batch greedy chain's
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/sfnl"))
    Cli.run(spark, List("stream-conversion", sf0001, s"$out/sfnl"))
    val sfnl = spark.read.parquet(s"$out/sfnl")
      .filter(col("user_id") >= 0)  // sentinel user never advances
      .select("user_id", "stage", "event_type", "ts_us", "delta_us")
    val bt = graft.operators.Sessionize.funnelTimes(
      graft.core.Tables.events(spark, sf0001),
      Seq("signup", "view", "click", "purchase"))
    val stagesB = Seq("signup", "view", "click", "purchase")
    val batchAdv = stagesB.indices.map { i =>
      val t = s"t${i + 1}"
      bt.filter(col(t).isNotNull)
        .select(col("user_id"), lit((i + 1).toLong).as("stage"),
          lit(stagesB(i)).as("event_type"), col(t).as("ts_us"),
          (if (i == 0) lit(0L) else col(t) - col(s"t$i")).as("delta_us"))
    }.reduce(_ unionByName _)
    assert(sfnl.exceptAll(batchAdv).count() == 0 &&
      batchAdv.exceptAll(sfnl).count() == 0)
    assert(sfnl.count() > 0)

    // stream-cardscrub: stateless Luhn scrub, equal to the batch p95
    // projection over the same synthesized lines
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/scard"))
    Cli.run(spark, List("stream-cardscrub", sf0001, s"$out/scard"))
    val scard = spark.read.parquet(s"$out/scard")
      .select("event_id", "n_digit_runs", "n_luhn_valid", "clean_fp")
    val batchCard = graft.queries.PipelineQueries.queries("p95_card_scrub")(
      spark, sf0001)
    assert(scard.exceptAll(batchCard).count() == 0 &&
      batchCard.exceptAll(scard).count() == 0)
    assert(scard.count() > 0)

    // stream-novelty: window-level gram probe vs the snapshot equals
    // the batch rollup for every closed window
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/snov"))
    Cli.run(spark, List("stream-novelty", sf0001, s"$out/snov"))
    val snov = spark.read.parquet(s"$out/snov")
      .select("ws_us", "doc_id", "n_windows", "n_seen", "novelty_micro")
    val CU = graft.pipeline.Curation
    val refG = docsTs.select(explode(CU.gramHashes("text", 8)).as("gh"))
      .distinct().withColumn("seen", lit(1L))
    val batchNov = docsTs
      .select(col("ts"), col("doc_id"),
        explode(CU.gramHashes("text", 8)).as("gh"))
      .join(refG, Seq("gh"), "left")
      .groupBy(window(col("ts"), "1 minute"), col("doc_id"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_windows"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.coalesce(col("seen"), lit(0L)))
          .as("n_seen"))
      .filter(unix_micros(col("window.end")) <= nDocsAll * 1000000L)
      .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
        col("n_windows"), col("n_seen"),
        org.apache.spark.sql.functions.expr(
          "((n_windows - n_seen) * 1000000) div n_windows")
          .as("novelty_micro"))
    assert(snov.exceptAll(batchNov).count() == 0 &&
      batchNov.exceptAll(snov).count() == 0)
    // self-snapshot reference: every window already exists -> novelty 0
    assert(snov.filter(col("novelty_micro") =!= 0L).count() == 0)
    assert(snov.count() > 0)

    // stream-text-neardup: per-row vectors against the corpus cell
    // index equal the batch IVF probe with every doc incoming
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/stnd"))
    Cli.run(spark, List("stream-text-neardup", sf0001, s"$out/stnd"))
    val stnd = spark.read.parquet(s"$out/stnd")
    val SIM = graft.pipeline.Similarity
    val TFX = graft.pipeline.TextFunctions
    val allVecs = SIM.hashedDocVectors(
        spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
        TFX.shingles(TFX.tokens(col("text")), 3), dim = 128)
      .filter(SIM.l2norm(col("embedding")) > 0)
      .withColumnRenamed("doc_id", "vec_id")
    val batchTnd = SIM.ivfProbePairs(allVecs, allVecs, "vec_id",
      "embedding", centroidFilter = col("vec_id") % 25 === 0,
      nprobe = 3, thresholdMicro = 500000L)
    assert(stnd.exceptAll(batchTnd).count() == 0 &&
      batchTnd.exceptAll(stnd).count() == 0)
    assert(stnd.count() > 0)

    // stream-normdedup: one admitted doc per CCNet-normalized
    // fingerprint; the fp SET equals the batch normalized-dedup's
    // (the surviving representative within one micro-batch is
    // arbitrary, so only the key set is pinned)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/snd"))
    Cli.run(spark, List("stream-normdedup", sf0001, s"$out/snd"))
    val snd = spark.read.parquet(s"$out/snd")
    val batchFps = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(substring(md5(
        graft.pipeline.TextFunctions.ccnetNormalize(col("text"))), 1, 16)
        .as("fp")).distinct()
    assert(snd.count() == batchFps.count())
    assert(snd.select("fp").exceptAll(batchFps).count() == 0)

    // stream-dsir: stateless per-row weights — every doc emits from
    // one drain (no window tail), equal to the batch scorer
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/sdsir"))
    Cli.run(spark, List("stream-dsir", sf0001, s"$out/sdsir"))
    val sdsir = spark.read.parquet(s"$out/sdsir")
      .select("doc_id", "n_feats", "logw_micro")
    val labD = C.funnelLabels(docsTs, "doc_id", "text",
      profile = C.GateProfile.wordSalad)
    val featsD = labD.select(col("doc_id"), col("cls"),
      explode(C.dsirBuckets(col("text"), 512)).as("bucket"))
    val batchDsir = C.dsirScore(
        docsTs.select(col("doc_id"),
          explode(C.dsirBuckets(col("text"), 512)).as("bucket")),
        Seq(col("doc_id")), C.dsirLlrTable(featsD, 512))
      .select("doc_id", "n_feats", "logw_micro")
    assert(sdsir.exceptAll(batchDsir).count() == 0 &&
      batchDsir.exceptAll(sdsir).count() == 0)
    assert(sdsir.count() == docsTs.count())  // nothing held back in a window

    // stream-classify: same drain discipline as stream-perplexity,
    // scores equal the batch NB model for every closed window
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/scls"))
    Cli.run(spark, List("stream-classify", sf0001, s"$out/scls"))
    val scls = spark.read.parquet(s"$out/scls")
      .select("ws_us", "doc_id", "n_tokens", "llr_micro", "pred")
    val labB = C.funnelLabels(docsTs, "doc_id", "text",
      profile = C.GateProfile.wordSalad)
    val labToksB = labB.select(col("doc_id"), col("cls"),
      explode(graft.pipeline.TextFunctions.tokens(col("text"))).as("tok"))
    val (llrT, opT) = C.nbCostTables(labToksB, labB, vocabSize = 500)
    val batchCls = C.nbScore(toksB,
        Seq(window(col("ts"), "1 minute"), col("doc_id")), llrT, opT)
      .filter(unix_micros(col("window.end")) <= nDocsAll * 1000000L)
      .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
        col("n_tokens"), col("llr_micro"), col("pred"))
    assert(scls.exceptAll(batchCls).count() == 0 &&
      batchCls.exceptAll(scls).count() == 0)
    assert(scls.count() > 0)

    // stream-embed-neardup: a one-shot drain over the embeddings
    // equals the batch probe-pair plan on the same rows
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/semb"))
    Cli.run(spark, List("stream-embed-neardup", sf0001, s"$out/semb"))
    val sembGot = spark.read.parquet(s"$out/semb")
    val embAll = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val sembExp = graft.pipeline.Similarity.ivfProbePairs(embAll, embAll,
      "vec_id", "embedding", col("vec_id") % 25 === 0,
      nprobe = 3, thresholdMicro = 200000L)
    assert(sembGot.exceptAll(sembExp).count() == 0 &&
      sembExp.exceptAll(sembGot).count() == 0 && sembGot.count() > 0)

    // stream-ann: arriving query batches answered FROM the exported
    // serving artifacts, bit-identical to the batch artifact scan
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/sann"))
    Cli.run(spark, List("stream-ann", sf0001, s"$out/sann"))
    val sannGot = spark.read.parquet(s"$out/sann")
    val sannEmb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val sannExp = graft.pipeline.Similarity.ivfPqTopKFromArtifacts(spark,
      s"$out/sann/_artifacts", sannEmb.filter(col("vec_id") < 20),
      "vec_id", "embedding", m = 4, dim = 64, k = 5, nprobe = 4)
    assert(sannGot.exceptAll(sannExp).count() == 0 &&
      sannExp.exceptAll(sannGot).count() == 0 && sannGot.count() > 0)
    // and the artifact scan itself matches the in-memory index (the
    // p178 contract), so stream == batch == in-memory, transitively
    val sannMem = graft.pipeline.Similarity.ivfPqTopK(sannEmb,
      sannEmb.filter(col("vec_id") < 20), "vec_id", "embedding",
      coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 8, m = 4, dim = 64, k = 5, nprobe = 4)
    assert(sannGot.exceptAll(sannMem).count() == 0 &&
      sannMem.exceptAll(sannGot).count() == 0)

    // stream-ingest-dedup: arriving docs gated against the frozen
    // band/signature artifacts, bit-identical to the batch check
    // over the same rows (per-batch plans are stateless)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$out/sidg"))
    Cli.run(spark, List("stream-ingest-dedup", sf0001, s"$out/sidg"))
    val sidgGot = spark.read.parquet(s"$out/sidg")
    val sidgDocs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") % 10 === 1).select("doc_id", "text")
    val sidgExp = graft.pipeline.Dedup.ingestDedupCheck(spark,
      s"$out/sidg/_artifacts", sidgDocs, "doc_id", "text", k = 3,
      numHashes = 12, bands = 6, minAgree = 8)
    assert(sidgGot.exceptAll(sidgExp).count() == 0 &&
      sidgExp.exceptAll(sidgGot).count() == 0 && sidgGot.count() > 0)

    // stream-decontaminate: arriving docs gated against the frozen
    // eval posting artifact, bit-identical to the batch gate
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$out/sdec"))
    Cli.run(spark, List("stream-decontaminate", sf0001, s"$out/sdec"))
    val sdecGot = spark.read.parquet(s"$out/sdec")
    val sdecDocs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") % 20 =!= 0 && col("doc_id") % 7 === 1)
      .select("doc_id", "text")
    val sdecExp = graft.pipeline.Curation.ingestContaminationCheck(
      spark, s"$out/sdec/_artifacts", sdecDocs, "doc_id", "text",
      k = 3, minShared = 2)
    assert(sdecGot.exceptAll(sdecExp).count() == 0 &&
      sdecExp.exceptAll(sdecGot).count() == 0 && sdecGot.count() > 0)

    // stream-dedup-loop: the SELF-MAINTAINING gate — each batch
    // checked against the index, then its admitted docs appended, so
    // later batches dedup against earlier ones. Pinned equal to the
    // sequential batch replay over fresh artifacts (batch order is
    // mtime-deterministic), and the loop's index state must have
    // grown to base + admitted.
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$out/sloop"))
    Cli.run(spark, List("stream-dedup-loop", sf0001, s"$out/sloop"))
    val sloopGot = spark.read.parquet(s"$out/sloop")
    val loopDocs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val replayArt = java.nio.file.Files
      .createTempDirectory("looprep").toString
    graft.pipeline.Dedup.exportDedupIndex(
      loopDocs.filter(col("doc_id") % 4 === 0), "doc_id", "text",
      k = 3, numHashes = 12, bands = 6, replayArt)
    val replay = (1 to 3).map { bk =>
      val b = loopDocs.filter(col("doc_id") % 4 === bk)
      val v = graft.pipeline.Dedup.ingestDedupCheck(spark, replayArt,
        b, "doc_id", "text", k = 3, numHashes = 12, bands = 6,
        minAgree = 8).localCheckpoint(true)
      graft.pipeline.Dedup.appendDedupIndex(spark, replayArt,
        b.join(v.filter(col("is_dup") === 0), Seq("doc_id"),
          "left_semi"), "doc_id", "text", k = 3, numHashes = 12,
        bands = 6)
      v
    }.reduce(_ unionByName _)
    assert(sloopGot.exceptAll(replay).count() == 0 &&
      replay.exceptAll(sloopGot).count() == 0 &&
      sloopGot.count() ==
        loopDocs.filter(col("doc_id") % 4 =!= 0).count())
    val loopCert = graft.pipeline.Dedup.certifyDedupIndex(spark,
      s"$out/sloop/_artifacts")
      .filter(col("artifact") === "sigs").collect().head
    assert(loopCert.getAs[Long]("n_rows") ==
      loopDocs.filter(col("doc_id") % 4 === 0).count() +
        replay.filter(col("is_dup") === 0).count())

    // stream-ann-loop: each vector batch answered from the artifacts
    // then absorbed into them — later batches retrieve earlier ones;
    // pinned equal to the sequential serve-then-absorb replay
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$out/saloop"))
    Cli.run(spark, List("stream-ann-loop", sf0001, s"$out/saloop"))
    val saloopGot = spark.read.parquet(s"$out/saloop")
    val loopEmb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val annReplayArt = java.nio.file.Files
      .createTempDirectory("annlooprep").toString
    graft.pipeline.Similarity.exportServingIndex(
      loopEmb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
      coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 32, m = 4, dim = 64, annReplayArt)
    val annReplay = (1 to 3).map { bk =>
      val b = loopEmb.filter(col("vec_id") % 4 === bk)
      val served = graft.pipeline.Similarity.ivfPqTopKFromArtifacts(
        spark, annReplayArt, b, "vec_id", "embedding", m = 4,
        dim = 64, k = 5, nprobe = 4).localCheckpoint(true)
      graft.pipeline.Similarity.appendServingIndex(spark,
        annReplayArt, b, "vec_id", "embedding", m = 4, dim = 64)
      served
    }.reduce(_ unionByName _)
    assert(saloopGot.exceptAll(annReplay).count() == 0 &&
      annReplay.exceptAll(saloopGot).count() == 0 &&
      saloopGot.count() > 0)
    // the loop's index state grew to the full corpus
    val annCert = graft.pipeline.Similarity.certifyServingIndex(spark,
      s"$out/saloop/_artifacts")
      .filter(col("artifact") === "codes").collect().head
    assert(annCert.getAs[Long]("n_rows") == 4L * loopEmb.count())

    // stream-tokenize: a one-shot drain tokenizes exactly like the
    // batch replay encode with the same snapshot-trained merges
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/stok"))
    Cli.run(spark, List("stream-tokenize", sf0001, s"$out/stok"))
    val stokGot = spark.read.parquet(s"$out/stok")
    val snapDocs = spark.read.parquet(s"$sf0001/documents.parquet")
    val stokMerges = graft.pipeline.Bpe.train(snapDocs, "text", 100)
      .orderBy("it").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val stokExp =
      graft.pipeline.Bpe.encode(snapDocs, "doc_id", "text", stokMerges)
    assert(stokGot.exceptAll(stokExp).count() == 0 &&
      stokExp.exceptAll(stokGot).count() == 0 && stokGot.count() > 0)

    // stream-image-neardup: odd-doc JPEG renders probe the even-doc
    // PNG corpus — the drain equals the batch delta Hamming pairs
    {
      import spark.implicits._
      import org.apache.spark.sql.functions.{floor, lit, pmod}
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/simg"))
      Cli.run(spark, List("stream-image-neardup", sf0001, s"$out/simg"))
      val simgGot = spark.read.parquet(s"$out/simg")
      def pSrc(parity: Int) = spark.read.parquet(s"$sf0001/documents.parquet")
        .filter(pmod(col("doc_id"), lit(2)) === parity)
        .select(col("doc_id"), floor(col("doc_id") / 2).cast("long"))
        .as[(Long, Long)]
      def hashes(parity: Int, fmt: String) = graft.pipeline.Multimodal.dHash(
        graft.pipeline.Multimodal.encodePattern(pSrc(parity), fmt)
          .map(e => graft.pipeline.Multimodal.MediaRow(e.media_id, e.png, "x")))
        .toDF()
      val simgExp = graft.pipeline.Dedup.hammingPairsDelta(
        graft.pipeline.Dedup.bandRows(hashes(0, "png"), "media_id", "dhash", 64, 4),
        hashes(1, "jpg"), "media_id", "dhash", 64, 4, 3)
      assert(simgGot.exceptAll(simgExp).count() == 0 &&
        simgExp.exceptAll(simgGot).count() == 0 && simgGot.count() > 0)
    }

    // stream-neardup: one AvailableNow pass over the corpus emits
    // exactly the batch LSH candidate pair set
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$out/snd"))
    Cli.run(spark, List("stream-neardup", sf0001, s"$out/snd"))
    val docsB = graft.pipeline.Dedup.minhashDocs(
      spark.read.parquet(s"$sf0001/documents.parquet"),
      "doc_id", "text", k = 3, numHashes = 12)
    val bandRows = docsB.select(col("doc"),
      explode(graft.pipeline.Dedup.bandKeyArray(col("sig"), 6, 2)).as("key"))
    val want = bandRows.alias("a")
      .join(bandRows.alias("b"),
        col("a.key") === col("b.key") && col("a.doc") < col("b.doc"))
      .select(col("a.doc"), col("b.doc")).distinct().count()
    assert(spark.read.parquet(s"$out/snd")
      .select("doc_a", "doc_b").distinct().count() == want)

    // copy_drug_era: a 1-site merge into the dcc namespace under the
    // reference's copy_* name
    val eraDir = s"$out/era_site"
    queries.ParityQueries3.q34ScdfEra(spark, sf0001)
      .write.mode("overwrite").parquet(s"$eraDir/drug_era.parquet")
    Cli.run(spark, List("copy_drug_era", eraDir, s"$out/dcc_drug_era"))
    assert(spark.read.parquet(s"$out/dcc_drug_era").count() ==
      spark.read.parquet(s"$eraDir/drug_era.parquet").count())

    // subset-model materializes each FK level; lineitem keys ⊆ orders keys
    Cli.run(spark, List("subset-model", sf0001, "customer", s"$out/subset"))
    val so = spark.read.parquet(s"$out/subset/orders")
    val sl = spark.read.parquet(s"$out/subset/lineitem")
    assert(so.count() > 0 && sl.count() > 0)
    assert(sl.join(so, sl("l_orderkey") === so("o_orderkey"), "left_anti")
      .count() == 0)
  }

  test("export-shards writes certified ordered shard directories") {
    val out = "/tmp/graft_cli_shards"
    Cli.run(spark, List("export-shards", sf0001, s"$out/files", s"$out/cert"))
    val cert = spark.read.parquet(s"$out/cert")
    assert(cert.count() > 0)
    assert(cert.filter(col("order_inversions") =!= 0L).count() == 0L)
    assert(new java.io.File(s"$out/files").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("chunk_idx=")))
  }

  test("ingest-loop: one chained cycle equals a from-scratch re-cluster") {
    import org.apache.spark.sql.functions._
    val out = "/tmp/graft_cli_loop"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")

    // batch = near-dup variants of every 5th doc (fresh: new id, text
    // differs by a suffix but shares winnow fingerprints) + every 7th
    // doc re-submitted verbatim (must be rejected by admission)
    val variants = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" zq zq")))
    variants.unionByName(docs.filter(col("doc_id") % 7 === 0))
      .write.parquet(s"$out/batch/documents.parquet")

    Cli.run(spark, List("ingest-loop", sf0001, s"$out/batch", s"$out/loop"))

    val corpus = spark.read.parquet(s"$out/loop/documents.parquet")
    // every variant admitted, every verbatim re-submission rejected
    assert(corpus.count() == docs.count() + variants.count())
    assert(corpus.count() == corpus.select("doc_id").distinct().count())
    val diff = spark.read.parquet(s"$out/loop/diff")
    assert(diff.filter(col("status") === "added").count() == variants.count())
    assert(diff.filter(col("status").isin("removed", "modified")).count() == 0)

    // the star-edge merge over delta-only pairs must equal clustering
    // the merged corpus from scratch over the full pair set
    def scratchOf(c: org.apache.spark.sql.DataFrame) =
      operators.ConnectedComponents.components(
        pipeline.Curation.winnowPairs(c, "doc_id", "text",
            k = 3, w = 4, minShared = 3)
          .select(col("doc_a").as("u"), col("doc_b").as("v")))
    val merged = spark.read.parquet(s"$out/loop/assignment")
    assert(merged.count() > 0)
    val scratch = scratchOf(corpus)
    assert(merged.except(scratch).isEmpty && scratch.except(merged).isEmpty)

    // cycle 2 chains off cycle 1's OUTPUT dir: the stored assignment is
    // loaded (no re-bootstrap) and folding only the new delta's pairs
    // must still equal a from-scratch re-cluster of the final corpus
    docs.filter(col("doc_id") % 11 === 0)
      .withColumn("doc_id", col("doc_id") + 200000L)
      .withColumn("text", concat(col("text"), lit(" vq vq")))
      .write.parquet(s"$out/batch2/documents.parquet")
    Cli.run(spark,
      List("ingest-loop", s"$out/loop", s"$out/batch2", s"$out/loop2"))
    val corpus2 = spark.read.parquet(s"$out/loop2/documents.parquet")
    val merged2 = spark.read.parquet(s"$out/loop2/assignment")
    val scratch2 = scratchOf(corpus2)
    assert(merged2.except(scratch2).isEmpty && scratch2.except(merged2).isEmpty)
  }

  test("stream-ann-loop re-trains when an absorbed batch drifts") {
    import spark.implicits._
    // base (%4==0) and batches 1-2 are ONE point of the distribution
    // (identical vectors — they reconstruct exactly, error 0, so the
    // frozen quantizer is provably adequate for them); batch 3
    // arrives shifted +5000 per component, so its stored codes'
    // reconstruction error explodes past the 4x threshold and the
    // loop re-trains.
    def vec(shift: Int) = Array.tabulate(64)(d =>
      (100 + d + shift).toFloat)
    val rows = (0 until 40).map { i =>
      (i.toLong, vec(if (i % 4 == 3) 5000 else 0))
    }
    val dir = java.nio.file.Files.createTempDirectory("driftsrc")
    rows.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = java.nio.file.Files.createTempDirectory("driftout")
    Cli.run(spark, List("stream-ann-loop", dir.toString, s"$out/loop"))

    // 1) re-training fired at the drifted batch and ONLY there
    //    (file-source batch ids are 0-based arrival order)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$out/loop", "_retrained_b00002")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$out/loop", "_retrained_b00000")) &&
      !java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"$out/loop", "_retrained_b00001")))

    // 2) the re-trained index IS a fresh export over everything
    //    absorbed: certify rows match a from-scratch export bit for bit
    val art = s"$out/loop/_artifacts"
    val freshDir = java.nio.file.Files
      .createTempDirectory("driftfresh").toString
    val all = rows.toDF("vec_id", "embedding")
    graft.pipeline.Similarity.exportServingIndex(all, "vec_id",
      "embedding", coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 32, m = 4, dim = 64, freshDir)
    val gotCert = graft.pipeline.Similarity
      .certifyServingIndex(spark, art).collect().toSet
    val expCert = graft.pipeline.Similarity
      .certifyServingIndex(spark, freshDir).collect().toSet
    assert(gotCert == expCert)

    // 3) the re-trained quantizer describes BOTH masses: the drifted
    //    mass's error is within the re-train threshold of the base's
    val errB = graft.pipeline.Similarity.reconstructionError(spark,
      art, all.filter(col("vec_id") % 4 =!= 3), "vec_id", "embedding",
      m = 4, dim = 64).collect().head.getAs[Long]("recon_err")
    val errD = graft.pipeline.Similarity.reconstructionError(spark,
      art, all.filter(col("vec_id") % 4 === 3), "vec_id", "embedding",
      m = 4, dim = 64).collect().head.getAs[Long]("recon_err")
    assert(errD <= 4L * math.max(errB, 1L))
  }

  test("stream-dedup-loop self-compacts under a boilerplate flood") {
    import spark.implicits._
    // A deterministic flood: each micro-batch carries 9 IDENTICAL
    // novel docs (admitted together, so their 6 band buckets jump to
    // 9 > cap=4 in one append) plus one exact copy of an earlier
    // group (a real dup the gate must keep catching). Without the
    // in-loop audit+compact the index's buckets grow unboundedly;
    // with it every bucket is re-capped before the next batch.
    def words(tag: String) =
      (0 until 20).map(w => s"${tag}w$w").mkString(" ")
    val t0 = words("base"); val groups = Map(1 -> words("g1"),
      2 -> words("g2"), 3 -> words("g3"))
    val rows = (0 until 40).flatMap { i =>
      val b = i % 4
      val text =
        if (b == 0) t0
        else if (i == 37) t0 // batch-1 dup of the base group
        else if (i == 38) groups(1) // batch-2 dup of batch-1's group
        else if (i == 39) groups(2) // batch-3 dup of batch-2's group
        else groups(b)
      Some((i.toLong, text))
    }
    val dir = java.nio.file.Files.createTempDirectory("floodsrc")
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("floodout")
    Cli.run(spark,
      List("stream-dedup-loop", dir.toString, s"$out/loop", "4"))

    // 1) compaction engaged and restored the invariant: no bucket in
    //    the live index exceeds the cap
    val bandCounts = spark.read.parquet(s"$out/loop/_artifacts/bands")
      .groupBy("key").count()
    assert(bandCounts.filter(col("count") > 4).count() == 0)
    assert(graft.pipeline.Dedup.indexOversizedBuckets(spark,
      s"$out/loop/_artifacts", 4) == 0)

    // 2) verdicts equal the UNCOMPACTED sequential replay: capping
    //    keeps the min-id representative, and best-match ties go to
    //    the smallest index id, so even the cross-batch dup resolves
    //    to the same match_doc
    val loopDocs = rows.toDF("doc_id", "text")
    val replayArt = java.nio.file.Files
      .createTempDirectory("floodrep").toString
    graft.pipeline.Dedup.exportDedupIndex(
      loopDocs.filter(col("doc_id") % 4 === 0), "doc_id", "text",
      k = 3, numHashes = 12, bands = 6, replayArt, bucketCap = 4)
    val replay = (1 to 3).map { bk =>
      val b = loopDocs.filter(col("doc_id") % 4 === bk)
      val v = graft.pipeline.Dedup.ingestDedupCheck(spark, replayArt,
        b, "doc_id", "text", k = 3, numHashes = 12, bands = 6,
        minAgree = 8).localCheckpoint(true)
      graft.pipeline.Dedup.appendDedupIndex(spark, replayArt,
        b.join(v.filter(col("is_dup") === 0), Seq("doc_id"),
          "left_semi"), "doc_id", "text", k = 3, numHashes = 12,
        bands = 6)
      v
    }.reduce(_ unionByName _)
    val got = spark.read.parquet(s"$out/loop")
    assert(got.exceptAll(replay).count() == 0 &&
      replay.exceptAll(got).count() == 0 && got.count() == 30)
    // the dups were caught: one per batch from 2 on, plus batch 1's
    assert(got.filter(col("is_dup") === 1).count() == 3)

    // 3) the flood WOULD have overflowed: the uncompacted replay's
    //    index holds a bucket past the cap (what the loop prevented)
    assert(spark.read.parquet(s"$replayArt/bands")
      .groupBy("key").count().filter(col("count") > 4).count() > 0)
  }
}
