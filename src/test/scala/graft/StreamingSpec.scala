package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingJobs

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowedAgg over a MemoryStream matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")

    val q = StreamingJobs.windowedAgg(events)
      .writeStream.format("memory").queryName("wagg")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      mem.addData(
        (ts("2024-01-01 00:10:00"), "click", 1.5),
        (ts("2024-01-01 00:50:00"), "click", 2.5),
        (ts("2024-01-01 01:10:00"), "view", 1.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first two windows
      mem.addData((ts("2024-01-01 12:00:00"), "view", 9.0))
      q.processAllAvailable()
      val rows = spark.table("wagg")
        .select("ws_us", "event_type", "n", "sum_value")
        .as[(Long, String, Long, Double)].collect().sortBy(r => (r._1, r._2))
      val hourUs = 3600L * 1000 * 1000
      val base = ts("2024-01-01 00:00:00").getTime * 1000
      assert(rows.toSeq == Seq(
        (base, "click", 2L, 4.0),
        (base + hourUs, "view", 1L, 1.0)))
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingJobs.dedupByKey(
      mem.toDF().toDF("ts", "event_id", "payload"), "ts", Seq("event_id"),
      watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_s")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      mem.addData(
        (ts("2024-01-01 00:00:00"), 1L, "a"),
        (ts("2024-01-01 00:00:30"), 1L, "a-redelivered"),
        (ts("2024-01-01 00:01:00"), 2L, "b"))
      q.processAllAvailable()
      // same key re-delivered in a later batch, still within watermark
      mem.addData((ts("2024-01-01 00:02:00"), 1L, "a-again"))
      q.processAllAvailable()
      val ids = spark.table("dedup_s").select("event_id")
        .as[Long].collect().toSeq.sorted
      assert(ids == Seq(1L, 2L))
    } finally q.stop()
  }

  test("event-time timeout closes idle sessions when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingJobs.TimedEvent]
    val out = StreamingJobs.sessionizeEventTime(mem.toDS(),
      gapUs = 120L * 1000 * 1000, watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sess_et")
      .outputMode("append").start()
    try {
      def ev(id: Long, s: String) =
        StreamingJobs.TimedEvent(1L, id, Timestamp.valueOf(s))
      mem.addData(ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:01:00"))
      q.processAllAvailable()
      assert(spark.table("sess_et").count() == 0) // session still open
      // an unrelated user's much-later event advances the watermark past
      // user 1's session_end + gap → timeout fires, session emitted
      mem.addData(StreamingJobs.TimedEvent(99L, 9L,
        Timestamp.valueOf("2024-01-01 06:00:00")))
      q.processAllAvailable()
      mem.addData(StreamingJobs.TimedEvent(99L, 10L,
        Timestamp.valueOf("2024-01-01 07:00:00")))
      q.processAllAvailable()
      val rows = spark.table("sess_et").as[StreamingJobs.Session].collect().toSeq
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
      assert(rows.contains(StreamingJobs.Session(1L, base, base + 60_000_000L, 2L)))
    } finally q.stop()
  }

  test("batch mixtureAppend equals the streaming scheduler's resumed state") {
    // the equivalence the p172 card claims: appending a delta batch
    // to an existing manifest assigns exactly the vtimes the stateful
    // stream would, and leaves every existing row byte-identical
    implicit val sqlCtx = spark.sqlContext
    val texts = Map(1L -> "x y z", 2L -> "x y", 3L -> "x", 4L -> "x y z w",
      5L -> "x", 6L -> "x y", 7L -> "x y z", 8L -> "x")
    val doms = Map(1L -> "a", 2L -> "b", 3L -> "a", 4L -> "a",
      5L -> "b", 6L -> "a", 7L -> "b", 8L -> "a")
    val all = texts.keys.toSeq.sorted
      .map(id => (id, doms(id), texts(id))).toDF("doc_id", "source", "text")
    val (baseIds, deltaIds) = (Seq(1L, 2L, 3L, 4L), Seq(5L, 6L, 7L, 8L))
    val wDf = Seq(("a", 500000L), ("b", 250000L))
      .toDF("source", "weight_micro")
    val existing = graft.pipeline.Curation.mixtureInterleave(
      all.filter(col("doc_id").isin(baseIds: _*)), "doc_id", "text",
      "source", wDf, shardToks = 4L)
    val appended = graft.pipeline.Curation.mixtureAppend(existing,
      all.filter(col("doc_id").isin(deltaIds: _*)), "doc_id", "text",
      "source", wDf, shardToks = 4L).cache()
    try {
      // existing rows pass through byte-identical
      val before = existing.orderBy("doc_id").collect().toSeq
      val after = appended.filter(col("doc_id").isin(baseIds: _*))
        .orderBy("doc_id").collect().toSeq
      assert(before == after)
      // the stream processes the same two batches; within each batch
      // arrivals are fed in the batch build's (hash, id) domain order
      // via the event-time sort the scheduler applies
      val hashOrder = all
        .select(col("doc_id"), graft.pipeline.TextFunctions.hash60(
          concat(lit("mix"), col("doc_id").cast("string"))).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def arrivals(ids: Seq[Long]) = ids
        .sortBy(id => (hashOrder(id), id)).zipWithIndex
        .map { case (id, k) => StreamingJobs.DocArrival(id, doms(id),
          new Timestamp(k * 1000L)) }
      val mem = MemoryStream[StreamingJobs.DocArrival]
      val out = StreamingJobs.mixtureSchedule(mem.toDS(),
        Map("a" -> 500000L, "b" -> 250000L))
      val q = out.writeStream.format("memory").queryName("mix_eq")
        .outputMode("append").start()
      try {
        mem.addData(arrivals(baseIds): _*)
        q.processAllAvailable()
        mem.addData(arrivals(deltaIds): _*)
        q.processAllAvailable()
        val streamed = spark.table("mix_eq")
          .as[StreamingJobs.MixSlot].collect()
          .map(r => r.doc_id -> r.vtime).toMap
        val batch = appended.select("doc_id", "vtime").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(streamed == batch,
          s"stream $streamed vs batch append $batch")
      } finally q.stop()
    } finally appended.unpersist()
  }

  test("online mixture scheduler equals the batch stride form across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingJobs.DocArrival]
    val out = StreamingJobs.mixtureSchedule(mem.toDS(),
      Map("a" -> 500000L, "b" -> 250000L))
    val q = out.writeStream.format("memory").queryName("mix_s")
      .outputMode("append").start()
    try {
      def d(id: Long, s: String) =
        StreamingJobs.DocArrival(id, s, new Timestamp(id * 1000L))
      // arrival order scrambled inside the batch: the group re-sorts
      // by event time, so doc 1 takes seq 1 ahead of doc 3
      mem.addData(d(3, "a"), d(1, "a"), d(2, "b"))
      q.processAllAvailable()
      // a second batch continues the per-domain counters from state
      mem.addData(d(5, "a"), d(4, "b"))
      q.processAllAvailable()
      val got = spark.table("mix_s").as[StreamingJobs.MixSlot]
        .collect().toSeq.sortBy(r => (r.source, r.seq))
      val exp = Seq(
        StreamingJobs.MixSlot(1L, "a", 1L, 2000L),
        StreamingJobs.MixSlot(3L, "a", 2L, 4000L),
        StreamingJobs.MixSlot(5L, "a", 3L, 6000L),
        StreamingJobs.MixSlot(2L, "b", 1L, 4000L),
        StreamingJobs.MixSlot(4L, "b", 2L, 8000L))
      assert(got == exp)
      // and the vtime order interleaves a twice as densely as b —
      // the batch p163 stride property, delivered online
      val order = got.sortBy(r => (r.vtime, r.source)).map(_.source)
      assert(order == Seq("a", "a", "b", "a", "b"))
    } finally q.stop()
  }

  test("streaming funnel emits watermark-final advances equal to the batch greedy chain") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingJobs.FunnelEvent]
    val out = StreamingJobs.funnelProgress(mem.toDS(),
      Seq("view", "click", "purchase"), watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("funnel_s")
      .outputMode("append").start()
    try {
      def fe(u: Long, ty: String, sec: Long) =
        StreamingJobs.FunnelEvent(u, ty, new Timestamp(sec * 1000L))
      // same shape as the batch spec fixture — arrival order scrambled
      // inside the batch to prove the buffer re-sorts by event time
      mem.addData(
        fe(5, "click", 12), fe(1, "purchase", 30), fe(2, "view", 10),
        fe(1, "view", 10), fe(2, "purchase", 15), fe(1, "click", 20),
        fe(3, "view", 10), fe(4, "click", 5), fe(4, "purchase", 6),
        fe(5, "view", 10), fe(5, "view", 50), fe(5, "purchase", 60),
        fe(2, "click", 20))
      q.processAllAvailable()
      // the trailing no-data batch advances the watermark to 60s and
      // flushes users whose buffers are final; user 5 (who holds the
      // 60s maximum) stays buffered — its timeout sits 1ms past the
      // watermark, so nothing of user 5 is emitted yet
      val early = spark.table("funnel_s")
        .as[StreamingJobs.FunnelAdvance].collect()
      assert(!early.exists(_.user_id == 5L) && early.length == 6)
      // a later unrelated event moves the watermark past 60s -> the
      // rest of the fixture becomes final and flushes
      mem.addData(fe(99, "view", 100000))
      q.processAllAvailable()
      mem.addData(fe(99, "click", 200000))
      q.processAllAvailable()
      val got = spark.table("funnel_s")
        .as[StreamingJobs.FunnelAdvance].collect().toSet
      def us(sec: Long) = sec * 1000000L
      val expected = Set(
        StreamingJobs.FunnelAdvance(1L, 1L, "view", us(10), 0L),
        StreamingJobs.FunnelAdvance(1L, 2L, "click", us(20), us(10)),
        StreamingJobs.FunnelAdvance(1L, 3L, "purchase", us(30), us(10)),
        StreamingJobs.FunnelAdvance(2L, 1L, "view", us(10), 0L),
        StreamingJobs.FunnelAdvance(2L, 2L, "click", us(20), us(10)),
        StreamingJobs.FunnelAdvance(3L, 1L, "view", us(10), 0L),
        StreamingJobs.FunnelAdvance(5L, 1L, "view", us(10), 0L),
        StreamingJobs.FunnelAdvance(5L, 2L, "click", us(12), us(2)),
        StreamingJobs.FunnelAdvance(5L, 3L, "purchase", us(60), us(48)),
        StreamingJobs.FunnelAdvance(99L, 1L, "view", us(100000), 0L))
      assert(got == expected)
      // and the per-stage reach counts equal the batch funnel's over
      // the same users (user 99 excluded — still inside the horizon)
      val batch = graft.operators.Sessionize.funnel(
        Seq((5L, "click", 12L), (1L, "purchase", 30L), (2L, "view", 10L),
          (1L, "view", 10L), (2L, "purchase", 15L), (1L, "click", 20L),
          (3L, "view", 10L), (4L, "click", 5L), (4L, "purchase", 6L),
          (5L, "view", 10L), (5L, "view", 50L), (5L, "purchase", 60L),
          (2L, "click", 20L))
          .map { case (u, ty, sec) => (u, ty, sec * 1000000000L) }
          .toDF("user_id", "event_type", "ts_ns"),
        Seq("view", "click", "purchase"))
        .select("stage", "n_users").as[(Long, Long)].collect().toMap
      val streamedCounts = got.filter(_.user_id != 99L)
        .groupBy(_.stage).view.mapValues(_.size.toLong).toMap
      assert(streamedCounts == batch.filter(_._2 > 0))
    } finally q.stop()
  }

  test("streaming sessionize emits closed sessions across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingJobs.Event]
    val out = StreamingJobs.sessionize(mem.toDS(), gapUs = 200L)

    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      mem.addData(
        StreamingJobs.Event(1L, 10L, 0L),
        StreamingJobs.Event(1L, 11L, 100L))
      q.processAllAvailable()
      // next batch: event far beyond the gap closes session 1
      mem.addData(StreamingJobs.Event(1L, 12L, 1000L))
      q.processAllAvailable()
      val rows = spark.table("sess")
        .as[StreamingJobs.Session].collect().toSeq
      assert(rows == Seq(StreamingJobs.Session(1L, 0L, 100L, 2L)))
    } finally q.stop()
  }

  test("stream-static enrich decorates events with the broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val events = mem.toDF().toDF("event_id", "user_id")
    val dim = Seq((1L, "alice"), (2L, "bob")).toDF("cust_id", "cust_name")

    val q = StreamingJobs.enrich(events, dim,
        keyCol = "user_id", dimKeyCol = "cust_id", dimCols = Seq("cust_name"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      mem.addData((100L, 1L), (101L, 2L), (102L, 7L))
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .select("event_id", "cust_name")
        .as[(Long, Option[String])].collect().sortBy(_._1)
      assert(rows.toSeq == Seq(
        (100L, Some("alice")), (101L, Some("bob")), (102L, None)))
    } finally q.stop()
  }

  test("streaming near-dup candidates equal the batch LSH candidate join") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " x y"
    val nearDup2 = (1 to 39).map(i => s"tok$i").mkString(" ") + " z"
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other), (4L, nearDup2))
    val (k, numHashes, bands) = (3, 12, 6)

    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingJobs.nearDupCandidates(
      mem.toDF().toDF("ts", "doc_id", "text"), "doc_id", "text", "ts",
      k, numHashes, bands, horizonUs = 3600L * 1000 * 1000)
    val q = out.writeStream.format("memory").queryName("neardup_s")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      // arrivals split across triggers; all within the horizon
      mem.addData((ts("2024-01-01 00:00:00"), 1L, base),
        (ts("2024-01-01 00:05:00"), 2L, nearDup))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 00:10:00"), 3L, other),
        (ts("2024-01-01 00:15:00"), 4L, nearDup2))
      q.processAllAvailable()
      val got = spark.table("neardup_s")
        .select("doc_a", "doc_b").distinct()
        .as[(Long, Long)].collect().toSet

      val docsB = graft.pipeline.Dedup.minhashDocs(
        docs.toDF("doc_id", "text"), "doc_id", "text", k, numHashes)
      val bandRows = docsB.select(col("doc"),
        explode(graft.pipeline.Dedup.bandKeyArray(col("sig"), bands,
          numHashes / bands)).as("key"))
      val want = bandRows.alias("a")
        .join(bandRows.alias("b"),
          col("a.key") === col("b.key") && col("a.doc") < col("b.doc"))
        .select(col("a.doc"), col("b.doc")).distinct()
        .as[(Long, Long)].collect().toSet

      assert(got == want, s"streaming=$got batch=$want")
      assert(got.contains((1L, 2L))) // the planted near-dup is caught
    } finally q.stop()
  }

  test("streaming near-dup pairs out-of-order arrivals; watermark-expired docs don't pair") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " x y"
    val nearDup2 = (1 to 39).map(i => s"tok$i").mkString(" ") + " z"

    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingJobs.nearDupCandidates(
      mem.toDF().toDF("ts", "doc_id", "text"), "doc_id", "text", "ts",
      k = 3, numHashes = 12, bands = 6,
      horizonUs = 10L * 60 * 1000 * 1000, watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("neardup_ooo")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      mem.addData((ts("2024-01-01 00:05:00"), 1L, base))
      q.processAllAvailable()
      // doc 2 arrives in a later trigger with an EARLIER event time —
      // still inside the watermark delay, must pair with doc 1
      mem.addData((ts("2024-01-01 00:04:00"), 2L, nearDup))
      q.processAllAvailable()
      val afterOoo = spark.table("neardup_ooo")
        .select("doc_a", "doc_b").distinct().as[(Long, Long)].collect().toSet
      assert(afterOoo.contains((1L, 2L)), s"got $afterOoo")

      // push the watermark far past docs 1/2 + horizon, then a near-dup
      // of them arrives fresh: state for the old docs must be gone, so
      // no pair with 1 or 2 may emit
      mem.addData((ts("2024-01-01 09:00:00"), 3L, "unrelated filler words"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 09:01:00"), 4L, nearDup2))
      q.processAllAvailable()
      val finalPairs = spark.table("neardup_ooo")
        .select("doc_a", "doc_b").distinct().as[(Long, Long)].collect().toSet
      assert(!finalPairs.exists(p => p._2 == 4L || p._1 == 4L),
        s"expired docs paired: $finalPairs")
    } finally q.stop()
  }

  test("stream-stream as-of join matches the batch AsOfJoin on the same data") {
    implicit val sqlCtx = spark.sqlContext
    def ev(user: Long, id: Long, s: String) =
      StreamingJobs.TimedEvent(user, id, Timestamp.valueOf(s))
    val lefts = Seq(
      ev(1L, 100L, "2024-01-01 00:10:00"),
      ev(2L, 200L, "2024-01-01 00:20:00"), // no right within tolerance
      ev(1L, 101L, "2024-01-01 00:40:00"),
      ev(3L, 300L, "2024-01-01 00:18:00"))
    val rights = Seq(
      ev(1L, 900L, "2024-01-01 00:05:00"),
      ev(1L, 901L, "2024-01-01 00:12:00"), // nearest to 100, ahead of 900
      ev(3L, 903L, "2024-01-01 00:17:00"), // tie on |Δt| → earlier wins
      ev(3L, 904L, "2024-01-01 00:19:00"),
      ev(1L, 902L, "2024-01-01 00:41:00"))

    val memL = MemoryStream[StreamingJobs.TimedEvent]
    val memR = MemoryStream[StreamingJobs.TimedEvent]
    val out = StreamingJobs.asOfNearest(memL.toDS(), memR.toDS(),
      toleranceUs = 10L * 60 * 1000 * 1000, watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("asof_s")
      .outputMode("append").start()
    try {
      // both sides split across batches (never behind the watermark)
      // to exercise buffered state
      memL.addData(lefts.take(2): _*)
      memR.addData(rights.take(4): _*)
      q.processAllAvailable()
      memL.addData(lefts.drop(2): _*)
      memR.addData(rights.drop(4): _*)
      q.processAllAvailable()
      // advance the watermark far enough to seal every left
      memL.addData(ev(99L, 999L, "2024-01-01 06:00:00"))
      q.processAllAvailable()
      memL.addData(ev(99L, 998L, "2024-01-01 07:00:00"))
      q.processAllAvailable()

      val streamed = spark.table("asof_s")
        .select("user_id", "event_id", "r_event_id", "diff_us")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted

      val toRow = (e: StreamingJobs.TimedEvent) => (e.user_id, e.event_id, e.ts)
      val batchL = lefts.map(toRow).toDF("user_id", "event_id", "ts")
      val batchR = rights.map(toRow).toDF("user_id", "event_id", "ts")
      val batch = graft.operators.AsOfJoin.nearest(
          batchL, batchR, Seq("user_id"), "ts", "ts",
          toleranceSec = 10L * 60, leftUnique = Seq("event_id"),
          rightTiebreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("r_event_id"),
          abs(col("ts").cast("long") - col("r_ts").cast("long")) * 1000000L)
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted

      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming scrub matches the batch scrub on the same events") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, Double)]
    val events = mem.toDF().toDF("event_id", "event_type", "user_id", "value")
    val q = StreamingJobs.scrub(events)
      .writeStream.format("memory").queryName("scrub_s")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (1L, "click", 12345L, 1.5),
        (2L, "view", 9L, 20.25))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("scrub_s")
        .select("event_id", "clean", "n_id")
        .as[(Long, String, Long)].collect().toSeq.sorted
      assert(streamed == Seq(
        (1L, "click user=<ID> amount=<ID>", 2L),
        (2L, "view user=<ID> amount=<ID>", 2L)))
      // identical to the batch pass over the same rows
      val batch = StreamingJobs.scrub(
          rows.toDF("event_id", "event_type", "user_id", "value"))
        .select("event_id", "clean", "n_id")
        .as[(Long, String, Long)].collect().toSeq.sorted
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming quality gate equals the batch Gopher rules on the same docs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingJobs.qualityGate(docs)
      .writeStream.format("memory").queryName("qgate_s")
      .outputMode("append").start()
    try {
      val rows = Seq(
        // 69 words, five distinct required stopwords — passes the
        // published Gopher thresholds the shared projection defaults to
        (1L, Seq.fill(3)("the quick brown fox jumps over the lazy dog " +
          "and then some more words with that have been added here " +
          "today okay fine").mkString(" ")),
        (2L, "too short"),
        (3L, Seq.fill(30)("zzz qqq vvv").mkString(" ")))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("qgate_s")
        .select("doc_id", "keep").as[(Long, Long)].collect().toSeq.sorted
      assert(streamed == Seq((1L, 1L), (2L, 0L), (3L, 0L)))
      // bit-identical to the batch projection over the same rows
      val batch = graft.pipeline.Curation.gopherGates(
          rows.toDF("doc_id", "text"), "doc_id", "text")
        .select("doc_id", "keep").as[(Long, Long)].collect().toSeq.sorted
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming C4 gate equals the batch page-gate projection on the same docs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingJobs.c4Gate(docs)
      .writeStream.format("memory").queryName("c4gate_s")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (1L, "This line has five words.\nno\n" +
          "Another keeper line sits here!\nShort tail?"),
        (2L, "function f() { return 1; }"),
        (3L, "a\nb\nc"))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("c4gate_s")
        .select("doc_id", "n_kept", "page_keep", "clean_fp")
        .as[(Long, Long, Long, String)].collect().toSeq.sorted
      assert(streamed.map(r => (r._1, r._2, r._3)) ==
        Seq((1L, 2L, 1L), (2L, 0L, 0L), (3L, 0L, 0L)))
      // bit-identical to the batch projection over the same rows
      val batch = graft.pipeline.Curation.c4PageGates(
          rows.toDF("doc_id", "text"), "doc_id", "text")
        .select("doc_id", "n_kept", "page_keep", "clean_fp")
        .as[(Long, Long, Long, String)].collect().toSeq.sorted
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming ingest funnel equals the batch funnelFlags stage") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingJobs.ingestFunnel(docs)
      .writeStream.format("memory").queryName("funnel_s")
      .outputMode("append").start()
    try {
      val good = Seq.fill(3)("the quick brown fox jumps over the lazy " +
        "dog and then some more words with that have been added here " +
        "today okay fine").mkString(" ")
      val rows = Seq(
        (1L, good + "\nThis closing line has five words here okay now."),
        (2L, "too short"),
        (3L, Seq.fill(30)("zzz qqq vvv").mkString(" ")))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("funnel_s")
        .select("doc_id", "score_keep", "gopher_keep", "page_keep", "admit")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      val batch = graft.pipeline.Curation.funnelFlags(
          rows.toDF("doc_id", "text"), "doc_id", "text")
        .select(col("doc_id"), col("score_keep"),
          col("keep").as("gopher_keep"), col("page_keep"),
          (col("score_keep") * col("keep") * col("page_keep")).as("admit"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch)
      assert(streamed.map(r => (r._1, r._3)) == // gopher verdicts
        Seq((1L, 1L), (2L, 0L), (3L, 0L)))
    } finally q.stop()
  }

  test("streaming perplexity equals batch unigramScore for closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val C = graft.pipeline.Curation
    // reference corpus the cost tables are fit on (static side)
    val ref = Seq((100L, "aa bb aa cc"), (101L, "aa dd bb"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingJobs.perplexityScore(docs, ref, vocabSize = 3)
      .writeStream.format("memory").queryName("ppl_s")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      val rows = Seq(
        (1L, "aa bb zz", ts("2024-01-01 00:10:00")),   // one OOV (zz)
        (2L, "cc cc cc aa", ts("2024-01-01 00:20:00")),
        (3L, "qq", ts("2024-01-01 00:40:00")))          // all OOV
      mem.addData(rows: _*)
      q.processAllAvailable()
      // sentinel far in the future closes the 00:00 window
      mem.addData((99L, "aa", ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("ppl_s")
        .select("ws_us", "doc_id", "n_tokens", "nll_micro", "avg_nll_micro")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      // batch: the IDENTICAL scoring expressions over the same rows,
      // grouped by the same window, restricted to the closed window
      val (cost, oov) = C.unigramCostTables(
        C.tokenOccurrences(ref, "doc_id", "text"), vocabSize = 3)
      val batchToks = rows.toDF("doc_id", "text", "ts")
        .select(col("doc_id"), col("ts"),
          explode(graft.pipeline.TextFunctions.tokens(col("text"))).as("tok"))
      val batch = C.unigramScore(batchToks,
          Seq(window(col("ts"), "1 hour"), col("doc_id")), cost, oov)
        .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
          col("n_tokens"), col("nll_micro"), col("avg_nll_micro"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch)
      assert(streamed.map(_._2) == Seq(1L, 2L, 3L))
      // the all-OOV doc is strictly costlier per token than the others
      val avg = streamed.map(r => r._2 -> r._5).toMap
      assert(avg(3L) > avg(1L) && avg(3L) > avg(2L))
    } finally q.stop()
  }

  test("streaming unigram tokenize equals the batch segmentation, OOV falls back") {
    implicit val sqlCtx = spark.sqlContext
    val U = graft.pipeline.Unigram
    val ref = Seq((100L, "abab abab aba b cab"), (101L, "abab cab cab ba"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingJobs.unigramTokenize(docs, ref, vocabSize = 8,
        maxLen = 3)
      .writeStream.format("memory").queryName("ut_s")
      .outputMode("append").start()
    try {
      val rows = Seq((1L, "abab cab"), (2L, "zzq aba"))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("ut_s")
        .select("doc_id", "pos", "n_tokens", "tokens")
        .as[(Long, Long, Long, String)].collect().toSeq.sorted
      // batch: the same cost map over the same words
      val (costs, _) = U.trainedCosts(ref, "text", 8, 3, 2)
      val batch = U.segment(
          rows.toDF("doc_id", "text").select(col("doc_id"),
              posexplode(graft.pipeline.TextFunctions.tokens(col("text")))
                .as(Seq("pos", "word")))
            .filter(length(col("word")) > 0), costs, 3)
        .select(col("doc_id"), col("pos").cast("long"),
          when(col("cost_micro") >= U.Unsegmentable, array(col("word")))
            .otherwise(col("pieces")).as("p"))
        .select(col("doc_id"), col("pos"),
          size(col("p")).cast("long"), array_join(col("p"), " "))
        .as[(Long, Long, Long, String)].collect().toSeq.sorted
      assert(streamed == batch)
      // the OOV word (chars 'z','q' unseen in ref) fell back unsplit
      val oov = streamed.find(r => r._1 == 2L && r._2 == 0L).get
      assert(oov._3 == 1L && oov._4 == "zzq")
      // a known word segments identically to the trained table
      val known = streamed.find(r => r._1 == 2L && r._2 == 1L).get
      val trained = U.train(ref, "text", 8, 3, 2)
        .filter(col("word") === "aba")
        .select(array_join(col("pieces"), " ")).as[String].head()
      assert(known._4 == trained)
    } finally q.stop()
  }

  test("streaming bigram perplexity equals batch bigramScore for closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val C = graft.pipeline.Curation
    val ref = Seq((100L, "aa bb aa cc"), (101L, "aa bb dd"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingJobs.bigramPerplexity(docs, ref, vocabSize = 3)
      .writeStream.format("memory").queryName("bg_s")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      val rows = Seq(
        (1L, "aa bb cc", ts("2024-01-01 00:10:00")),   // seen bigram aa→bb
        (2L, "cc aa zz", ts("2024-01-01 00:20:00")),   // OOV + unseen bigrams
        (3L, "bb", ts("2024-01-01 00:40:00")))         // single-token doc
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData((99L, "aa", ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("bg_s")
        .select("ws_us", "doc_id", "n_tokens", "nll_micro", "avg_nll_micro")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      val model = C.bigramModel(
        C.bigramOccurrences(ref, "doc_id", "text"), vocabSize = 3)
      val occB = C.bigramOccurrences(rows.toDF("doc_id", "text", "ts"),
        "doc_id", "text", carry = Seq("ts"))
      val batch = C.bigramScore(occB,
          Seq(window(col("ts"), "1 hour"), col("doc_id")), model)
        .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
          col("n_tokens"), col("nll_micro"), col("avg_nll_micro"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch)
      assert(streamed.map(_._2) == Seq(1L, 2L, 3L))
      // doc 1 rides the corpus's dominant bigram; doc 2 is OOV-heavy
      val avg = streamed.map(r => r._2 -> r._5).toMap
      assert(avg(2L) > avg(1L))
    } finally q.stop()
  }

  test("streaming Kneser-Ney perplexity equals batch knScore for closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val C = graft.pipeline.Curation
    val ref = Seq((100L, "aa bb aa cc"), (101L, "aa bb dd"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingJobs.knPerplexity(docs, ref, vocabSize = 3)
      .writeStream.format("memory").queryName("kn_s")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      val rows = Seq(
        (1L, "aa bb cc", ts("2024-01-01 00:10:00")),   // seen bigram aa→bb
        (2L, "cc aa zz", ts("2024-01-01 00:20:00")),   // OOV + unseen bigrams
        (3L, "bb", ts("2024-01-01 00:40:00")))         // single-token doc
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData((99L, "aa", ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("kn_s")
        .select("ws_us", "doc_id", "n_tokens", "nll_micro", "avg_nll_micro")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      val model = C.knBigramModel(
        C.bigramOccurrences(ref, "doc_id", "text"), vocabSize = 3)
      val occB = C.bigramOccurrences(rows.toDF("doc_id", "text", "ts"),
        "doc_id", "text", carry = Seq("ts"))
      val batch = C.knScore(occB,
          Seq(window(col("ts"), "1 hour"), col("doc_id")), model)
        .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
          col("n_tokens"), col("nll_micro"), col("avg_nll_micro"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch)
      assert(streamed.map(_._2) == Seq(1L, 2L, 3L))
      // the discounted in-corpus doc still beats the OOV-heavy one
      val avg = streamed.map(r => r._2 -> r._5).toMap
      assert(avg(2L) > avg(1L))
    } finally q.stop()
  }

  test("streaming DSIR weights equal batch dsirScore, emitted without a window") {
    implicit val sqlCtx = spark.sqlContext
    val C = graft.pipeline.Curation
    // reference snapshot: one funnel-shaped doc (long, stopworded,
    // punctuated) and one word-salad doc, so the wordSalad-profile
    // labels split 1/0 and the llr map is non-degenerate
    val good = ("the quick brown fox jumps over the lazy dog and then " +
      "the dog naps in the warm sun all afternoon long today.")
    val ref = Seq((100L, good), (101L, "zz qq kk"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingJobs.dsirWeight(docs, ref, buckets = 64,
        profile = C.GateProfile.wordSalad)
      .writeStream.format("memory").queryName("dsir_s")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      val rows = Seq(
        (1L, "the quick brown fox", ts("2024-01-01 00:10:00")),
        (2L, "zz qq", ts("2024-01-01 00:20:00")),
        (3L, "never seen tokens here", ts("2024-01-01 00:40:00")))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("dsir_s")
        .select("ts_us", "doc_id", "n_feats", "logw_micro")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      // no window: all three rows emit from one drain, ts passthrough
      assert(streamed.map(_._2) == Seq(1L, 2L, 3L))
      val labels = C.funnelLabels(ref, "doc_id", "text",
        profile = C.GateProfile.wordSalad)
      val refFeats = labels.select(col("doc_id"), col("cls"),
        explode(C.dsirBuckets(col("text"), 64)).as("bucket"))
      val llr = C.dsirLlrTable(refFeats, buckets = 64)
      val batch = C.dsirScore(
          rows.toDF("doc_id", "text", "ts")
            .select(col("doc_id"), unix_micros(col("ts")).as("ts_us"),
              explode(C.dsirBuckets(col("text"), 64)).as("bucket")),
          Seq(col("ts_us"), col("doc_id")), llr)
        .select("ts_us", "doc_id", "n_feats", "logw_micro")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch)
      // target-flavored text outweighs the word-salad text
      val w = streamed.map(r => r._2 -> r._4).toMap
      assert(w(1L) > w(2L))
    } finally q.stop()
  }

  test("streaming NB classification equals batch nbScore for closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val C = graft.pipeline.Curation
    // reference snapshot the model is fit on: one gate-passing doc
    // (funnel label 1) with distinctive vocabulary, two failing docs
    val good = (Seq("the", "and", "for", "that", "with", "have", "this",
      "from", "they", "will") ++ Seq.fill(5)(Seq("when", "make", "time",
      "just", "know", "take", "into", "year", "good", "some").mkString(" "))
      :+ "This closing sentence has five good words here. Yes it does! Fine.")
      .mkString(" ")
    val ref = Seq(
      (100L, good),
      (101L, "spam spam buy pills"),
      (102L, "zzz qqq vvv www")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingJobs.classify(docs, ref, vocabSize = 50)
      .writeStream.format("memory").queryName("cls_s")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      val rows = Seq(
        (1L, "good time with some year", ts("2024-01-01 00:10:00")),
        (2L, "spam pills zzz", ts("2024-01-01 00:20:00")),
        (3L, "unseen words only", ts("2024-01-01 00:40:00")))
      mem.addData(rows: _*)
      q.processAllAvailable()
      // sentinel far in the future closes the 00:00 window
      mem.addData((99L, "the", ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("cls_s")
        .select("ws_us", "doc_id", "n_tokens", "llr_micro", "pred")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      // batch: IDENTICAL scoring expressions over the same rows
      val labels = C.funnelLabels(ref, "doc_id", "text")
      val labeledToks = labels.select(col("doc_id"), col("cls"),
        explode(graft.pipeline.TextFunctions.tokens(col("text"))).as("tok"))
      val (llr, oovPrior) = C.nbCostTables(labeledToks, labels, 50)
      val batchToks = rows.toDF("doc_id", "text", "ts")
        .select(col("doc_id"), col("ts"),
          explode(graft.pipeline.TextFunctions.tokens(col("text"))).as("tok"))
      val batch = C.nbScore(batchToks,
          Seq(window(col("ts"), "1 hour"), col("doc_id")), llr, oovPrior)
        .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
          col("n_tokens"), col("llr_micro"), col("pred"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch)
      assert(streamed.map(_._2) == Seq(1L, 2L, 3L))
      // good-vocabulary doc scores strictly above the spam-vocabulary doc
      val score = streamed.map(r => r._2 -> r._4).toMap
      assert(score(1L) > score(2L))
    } finally q.stop()
  }

  test("streaming chunk gate equals the batch p176 projection") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingJobs.chunkGate(docs)
      .writeStream.format("memory").queryName("chunk_s")
      .outputMode("append").start()
    try {
      // 40 tokens -> two windows at chunk 32 / stride 24; 3 tokens ->
      // one short chunk
      val rows = Seq(
        (1L, (1 to 40).map(i => s"w$i").mkString(" ")),
        (2L, "a b c"))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("chunk_s")
        .as[(Long, Long, Long, Long, String)].collect().toSeq.sorted
      val batch = graft.pipeline.Curation.chunkDocuments(
          rows.toDF("doc_id", "text"), "doc_id", "text",
          chunkToks = 32, strideToks = 24)
        .as[(Long, Long, Long, Long, String)].collect().toSeq.sorted
      assert(streamed == batch && streamed.size == 3)
    } finally q.stop()
  }

  test("streaming cluster assignment equals the batch Lloyd argmax") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),   // seed centroid A
      (1L, Array(0f, 1f, 0f, 0f)),   // seed centroid B
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0.1f, 0.9f, 0f, 0f))).toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Array[Float])]
    val vecs = mem.toDF().toDF("vec_id", "embedding")
    val q = StreamingJobs.clusterAssign(vecs, corpus,
        col("vec_id") <= 1, iters = 2)
      .writeStream.format("memory").queryName("classign_s")
      .outputMode("append").start()
    try {
      val incoming = Seq(
        (100L, Array(0.95f, 0.05f, 0f, 0f)),  // cell A
        (101L, Array(0.05f, 0.95f, 0f, 0f)),  // cell B
        (102L, Array(0.7f, 0.7f, 0f, 0f)))    // tie-ish: smaller id wins
      mem.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.table("classign_s")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      // the batch twin: the same folded-literal projection over a
      // batch frame (shared expression, so bit-equality is structural)
      val cents = graft.pipeline.Similarity.centroidsFromMeans(
          graft.pipeline.Similarity.kmeansTrain(corpus, "vec_id",
            "embedding", col("vec_id") <= 1, iters = 2))
        .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Float](1)))
      val best = graft.pipeline.Similarity.centroidAssignExpr(cents,
        col("embedding"))
      val batch = incoming.toDF("vec_id", "embedding")
        .select(col("vec_id"), best.getField("cell").as("cell"),
          floor(best.getField("sim") * 1e6).cast("long").as("sim_micro"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch)
      assert(streamed.map(r => (r._1, r._2)) ==
        Seq((100L, 0L), (101L, 1L), (102L, 0L)), streamed.toString)
    } finally q.stop()
  }

  test("streaming embedding near-dup equals the batch probe pairs") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),   // centroid A
      (1L, Array(0f, 1f, 0f, 0f)),   // centroid B
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0.1f, 0.9f, 0f, 0f)),
      (4L, Array(0.7f, 0.7f, 0f, 0f))).toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Array[Float])]
    val vecs = mem.toDF().toDF("vec_id", "embedding")
    val q = StreamingJobs.embeddingNearDup(vecs, corpus,
        col("vec_id") <= 1, nprobe = 1, thresholdMicro = 500000L)
      .writeStream.format("memory").queryName("embnd_s")
      .outputMode("append").start()
    try {
      val incoming = Seq(
        (100L, Array(0.95f, 0.05f, 0f, 0f)), // lands in cell A, 3 neighbors
        (101L, Array(0f, 0f, 1f, 0f)))       // orthogonal: no neighbor clears
      mem.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.table("embnd_s")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      // bit-identical to the batch plan over the same rows
      val batch = graft.pipeline.Similarity.ivfProbePairs(
          incoming.toDF("vec_id", "embedding"), corpus, "vec_id",
          "embedding", col("vec_id") <= 1, nprobe = 1,
          thresholdMicro = 500000L)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch)
      assert(streamed.map(r => (r._1, r._2)) ==
        Seq((100L, 0L), (100L, 2L), (100L, 4L)))
    } finally q.stop()
  }

  test("streaming image near-dup equals the batch delta hamming pairs") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(5)
    val corpus = (0L until 30L).map(i => (i, rnd.nextLong()))
    val corpusDf = corpus.toDF("media_id", "dhash")
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingJobs.imageNearDup(
        mem.toDF().toDF("media_id", "dhash"), corpusDf)
      .writeStream.format("memory").queryName("imgnd_s")
      .outputMode("append").start()
    try {
      val incoming = Seq(
        (100L, corpus(3)._2), // exact copy of corpus 3
        (101L, corpus(7)._2 ^ (1L << 5) ^ (1L << 40)), // 2 bit flips
        (102L, rnd.nextLong())) // unrelated
      mem.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.table("imgnd_s")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val batch = graft.pipeline.Dedup.hammingPairsDelta(
          graft.pipeline.Dedup.bandRows(corpusDf, "media_id", "dhash", 64, 4),
          incoming.toDF("media_id", "dhash"), "media_id", "dhash", 64, 4, 3)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch)
      assert(streamed.contains((100L, 3L, 0L)))
      assert(streamed.contains((101L, 7L, 2L)))
    } finally q.stop()
  }

  test("streaming tokenize equals batch encode, OOV words included") {
    implicit val sqlCtx = spark.sqlContext
    val snapshot = Seq((1L, "low lower lowest"), (2L, "low low lows"),
      (3L, "newer newest news"), (4L, "tokenizer training tokenizer vocabulary"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = StreamingJobs.tokenize(
        mem.toDF().toDF("doc_id", "text"), snapshot, nMerges = 30)
      .writeStream.format("memory").queryName("tok_s")
      .outputMode("append").start()
    try {
      // "lowland" is OOV for the snapshot — must still segment, in
      // both triggers (stateless: each batch tokenizes independently)
      mem.addData((10L, "low lower news"))
      q.processAllAvailable()
      mem.addData((11L, "training lowland"))
      q.processAllAvailable()
      val streamed = spark.table("tok_s")
        .as[(Long, Long, Long, String)].collect().toSeq.sorted
      val merges = graft.pipeline.Bpe.train(snapshot, "text", 30)
        .orderBy("it").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val batch = graft.pipeline.Bpe.encode(
          Seq((10L, "low lower news"), (11L, "training lowland"))
            .toDF("doc_id", "text"), "doc_id", "text", merges)
        .as[(Long, Long, Long, String)].collect().toSeq.sorted
      assert(streamed.nonEmpty && streamed == batch)
      assert(streamed.exists(r => r._1 == 11L && r._2 == 1L)) // OOV row emitted
    } finally q.stop()
  }

  test("streaming verified near-dup pairs equal batch minhashPairs incl. out-of-order") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " x y"
    val nearDup2 = (1 to 39).map(i => s"tok$i").mkString(" ") + " z"
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other), (4L, nearDup2))
    val (k, numHashes, bands) = (3, 12, 6)
    val snapshot = docs.toDF("doc_id", "text")

    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingJobs.nearDupVerified(
      mem.toDF().toDF("ts", "doc_id", "text"), snapshot, "doc_id", "text",
      "ts", k, numHashes, bands, threshold = 0.5,
      horizonUs = 3600L * 1000 * 1000)
    val q = out.writeStream.format("memory").queryName("neardup_v")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      mem.addData((ts("2024-01-01 00:05:00"), 1L, base))
      q.processAllAvailable()
      // doc 2 arrives in a later trigger with an EARLIER event time —
      // still inside the watermark delay, must pair AND verify
      mem.addData((ts("2024-01-01 00:04:00"), 2L, nearDup),
        (ts("2024-01-01 00:10:00"), 3L, other))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 00:15:00"), 4L, nearDup2))
      q.processAllAvailable()
      val got = spark.table("neardup_v")
        .select("doc_a", "doc_b", "jaccard_micro").distinct()
        .as[(Long, Long, Long)].collect().toSet

      val want = graft.pipeline.Dedup.minhashPairs(snapshot,
          "doc_id", "text", k, numHashes, bands, threshold = 0.5)
        .select("doc_a", "doc_b", "jaccard_micro")
        .as[(Long, Long, Long)].collect().toSet

      assert(got == want, s"streaming=$got batch=$want")
      assert(got.exists(p => p._1 == 1L && p._2 == 2L)) // planted pair
      // doc 3 shares no bands — verification never even sees it
      assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
    } finally q.stop()
  }

  test("streaming verified near-dup: watermark-expired docs emit no pairs") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " x y"
    val nearDup2 = (1 to 39).map(i => s"tok$i").mkString(" ") + " z"
    val snapshot = Seq((1L, base), (2L, nearDup), (3L, "unrelated filler words"),
      (4L, nearDup2)).toDF("doc_id", "text")

    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingJobs.nearDupVerified(
      mem.toDF().toDF("ts", "doc_id", "text"), snapshot, "doc_id", "text",
      "ts", k = 3, numHashes = 12, bands = 6, threshold = 0.5,
      horizonUs = 10L * 60 * 1000 * 1000, watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("neardup_v_exp")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      mem.addData((ts("2024-01-01 00:05:00"), 1L, base),
        (ts("2024-01-01 00:06:00"), 2L, nearDup))
      q.processAllAvailable()
      // push the watermark far past docs 1/2 + horizon; their state
      // must be gone, so the late near-dup 4 verifies against nothing
      mem.addData((ts("2024-01-01 09:00:00"), 3L, "unrelated filler words"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 09:01:00"), 4L, nearDup2))
      q.processAllAvailable()
      val pairs = spark.table("neardup_v_exp")
        .select("doc_a", "doc_b").distinct()
        .as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L)), s"got $pairs")
    } finally q.stop()
  }

  test("streaming count-min cells equal the batch sketch; totals conserved") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingJobs.countMinCells(docs)
      .writeStream.format("memory").queryName("cm_s")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      val rows = Seq(
        (1L, "aa bb aa cc", ts("2024-01-01 00:10:00")),
        (2L, "bb bb dd", ts("2024-01-01 00:20:00")))
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData((99L, "zz", ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("cm_s")
        .select("r", "b", "c").as[(Int, Long, Long)].collect().toSeq.sorted
      val TF = graft.pipeline.TextFunctions
      val batch = rows.toDF("doc_id", "text", "ts")
        .select(explode(TF.tokens(col("text"))).as("tok"))
        .select(explode(array((0 until 4).map(r =>
          struct(lit(r).as("r"),
            (TF.hash60(concat(lit(s"cm${r}_"), col("tok"))) % 64)
              .as("b"))): _*)).as("cell"))
        .groupBy(col("cell.r"), col("cell.b"))
        .agg(count(lit(1)).as("c"))
        .as[(Int, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch, s"\n$streamed\nvs\n$batch")
      // every sketch row holds the full token mass (7 occurrences)
      (0 until 4).foreach { r =>
        assert(streamed.filter(_._1 == r).map(_._3).sum == 7L)
      }
    } finally q.stop()
  }

  test("streaming rate-spike flags apply the snapshot thresholds per window") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    // snapshot history for type a: counts [2,3,3,4,3,2,20]
    // -> median 3, MAD 1, cut 6 (the batch spec's fixture)
    def rows(tp: String, day: Int, hour: Int, n: Int) = (1 to n).map(_ =>
      (tp, Timestamp.valueOf(f"2024-01-0$day $hour%02d:30:00")))
    val snapshot = Seq(2, 3, 3, 4, 3, 2, 20).zipWithIndex
      .flatMap { case (c, h) => rows("a", 1, h, c) }
      .toDF("event_type", "ts")
    val mem = MemoryStream[(String, Timestamp)]
    val q = StreamingJobs.rateSpikeFlags(
        mem.toDF().toDF("event_type", "ts"), snapshot)
      .writeStream.format("memory").queryName("spike_s")
      .outputMode("append").start()
    try {
      // day 2: hour 0 normal (4 <= 6), hour 1 hot (9 > 6)
      mem.addData(rows("a", 2, 0, 4) ++ rows("a", 2, 1, 9): _*)
      q.processAllAvailable()
      mem.addData(rows("a", 3, 12, 1): _*) // advance the watermark
      q.processAllAvailable()
      val out = spark.table("spike_s")
        .select("event_type", "n", "median_n", "mad_n", "spike")
        .as[(String, Long, Long, Long, Long)].collect().toSeq.sortBy(_._2)
      assert(out == Seq(("a", 4L, 3L, 1L, 0L), ("a", 9L, 3L, 1L, 1L)),
        out.toString)
    } finally q.stop()
  }

  test("streaming HDR buckets equal the batch sketch; counts conserved") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingJobs.hdrBuckets(docs)
      .writeStream.format("memory").queryName("hdr_s")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      def doc(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
      val rows = Seq(
        (1L, doc(2), ts("2024-01-01 00:10:00")),
        (2L, doc(8), ts("2024-01-01 00:20:00")),
        (3L, doc(20), ts("2024-01-01 00:30:00")))
      mem.addData(rows: _*)
      q.processAllAvailable()
      // advance the watermark so the first window closes and emits
      mem.addData((99L, doc(1), ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("hdr_s")
        .select("bid", "ub", "c").as[(Long, Long, Long)]
        .collect().toSeq.sorted
      val TF = graft.pipeline.TextFunctions
      val batch = graft.pipeline.Curation.hdrBuckets(
          rows.toDF("doc_id", "text", "ts")
            .select(size(TF.tokens(col("text"))).cast("long").as("v")),
          pBits = 3)
        .groupBy("bid", "ub").agg(count(lit(1)).as("c"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch, s"\n$streamed\nvs\n$batch")
      // one doc per bucket here: 2 -> [2,2], 8 -> [8,8], 20 -> [20,21]
      assert(streamed == Seq((2L, 2L, 1L), (8L, 8L, 1L), (18L, 21L, 1L)),
        streamed.toString)
      assert(streamed.map(_._3).sum == rows.size.toLong)
    } finally q.stop()
  }

  test("streaming HLL registers equal the batch sketch and merge by max") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "source", "text", "ts")
    val q = StreamingJobs.hllRegisters(docs)
      .writeStream.format("memory").queryName("hll_s")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      val rows = Seq(
        (1L, "sA", "aa bb cc dd ee", ts("2024-01-01 00:10:00")),
        (2L, "sA", "ff gg hh ii jj", ts("2024-01-01 00:20:00")),
        (3L, "sB", "aa bb cc dd ee", ts("2024-01-01 00:30:00")))
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData((99L, "sA", "zz yy xx", ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("hll_s")
        .select("src", "j", "mj")
        .as[(String, Long, Int)].collect().toSeq.sorted
      // batch twin: same projection, grouped without the window
      val TF = graft.pipeline.TextFunctions
      import org.apache.spark.sql.functions.{expr => e}
      val rest = e("h div 64")
      val bitlen = greatest((0 until 54).map(b =>
        when(rest >= (1L << b), b + 1).otherwise(0)): _*)
      val batch = rows.toDF("doc_id", "source", "text", "ts")
        .select(col("source").as("src"),
          explode(TF.shingles(TF.tokens(col("text")), 3)).as("sh"))
        .select(col("src"), TF.hash60(col("sh")).as("h"))
        .select(col("src"), pmod(col("h"), lit(64L)).as("j"),
          (lit(55) - bitlen).as("rho"))
        .groupBy("src", "j").agg(max(col("rho")).as("mj"))
        .as[(String, Long, Int)].collect().toSeq.sorted
      assert(streamed == batch, s"\n$streamed\nvs\n$batch")
      // sB ingested only sA's first document, so every sB register is
      // dominated by sA's (register max = HLL union monotonicity)
      val byS = streamed.groupBy(_._1)
      val sa = byS("sA").map(t => t._2 -> t._3).toMap
      assert(byS("sB").forall { case (_, j, mj) => sa(j) >= mj })
    } finally q.stop()
  }

  test("streaming phrase search marks verbatim grams, scores equal batch") {
    implicit val sqlCtx = spark.sqlContext
    val R = graft.pipeline.Retrieval
    val TF = graft.pipeline.TextFunctions
    val ref = Seq(
      (100L, "apple banana cherry pad"),
      (101L, "banana apple plum plum"),   // both words, wrong order
      (102L, "wolf fox bear lynx")).toDF("doc_id", "text")
    val index = R.impactIndex(ref, "doc_id", "text").persist()
    val grams = R.gramIndex(ref, "doc_id", "text", k = 2).persist()
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingJobs.phraseSearch(mem.toDF()
        .toDF("doc_id", "text", "ts"), index, grams, phraseLen = 2)
      .writeStream.format("memory").queryName("phrase_s")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      mem.addData((1L, "apple banana trailing ignored",
        ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      mem.addData((99L, "apple", ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("phrase_s")
        .select("query_id", "doc_id", "n_terms", "score_micro",
          "phrase_hit")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      // doc 100 holds "apple banana" contiguously; 101 only scrambled
      val hits = streamed.filter(_._1 == 1L)
        .map(r => r._2 -> r._5).toMap
      assert(hits == Map(100L -> 1L, 101L -> 0L), streamed.toString)
      // scores equal the batch scorer over the same 2-token prefix
      val fields = Seq(TF.tokens(col("text")) -> 1L)
      val qT = R.queryTerms(Seq((1L, "apple banana"))
        .toDF("query_id", "qtext"), "query_id", "qtext")
      val batch = R.bm25ScoresFromHits(R.bm25fIndex(ref, "doc_id", fields),
          R.prunedHits(ref, "doc_id", fields, qT), qT, R.Bm25Params())
        .select("query_id", "doc_id", "n_terms", "score_micro")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed.filter(_._1 == 1L).map(r =>
        (r._1, r._2, r._3, r._4)).sorted == batch,
        s"\n$streamed\nvs\n$batch")
    } finally { q.stop(); index.unpersist(); grams.unpersist() }
  }

  test("streaming BM25 search equals batch scores through the impact index") {
    implicit val sqlCtx = spark.sqlContext
    val R = graft.pipeline.Retrieval
    val ref = Seq(
      (100L, "apple banana cherry"),
      (101L, "apple banana plum plum plum plum"),
      (102L, "wolf fox bear")).toDF("doc_id", "text")
    val index = R.impactIndex(ref, "doc_id", "text").persist()
    val mem = MemoryStream[(Long, String, Timestamp)]
    val queries = mem.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingJobs.bm25Search(queries, index)
      .writeStream.format("memory").queryName("bm25_s")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      val rows = Seq(
        (1L, "apple banana", ts("2024-01-01 00:10:00")),
        (2L, "wolf wolf banana", ts("2024-01-01 00:20:00")),  // dup query term counts once
        (3L, "zz unseen", ts("2024-01-01 00:40:00")))         // no hits -> no rows
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData((99L, "apple", ts("2024-01-02 12:00:00")))  // closes the window
      q.processAllAvailable()
      val streamed = spark.table("bm25_s")
        .select("query_id", "doc_id", "n_terms", "score_micro")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      // batch twin through the OTHER path: df-pruned scoring
      val fields =
        Seq(graft.pipeline.TextFunctions.tokens(col("text")) -> 1L)
      val qT = R.queryTerms(rows.toDF("query_id", "text", "ts"),
        "query_id", "text")
      val batch = R.bm25ScoresFromHits(R.bm25fIndex(ref, "doc_id", fields),
          R.prunedHits(ref, "doc_id", fields, qT), qT, R.Bm25Params())
        .select("query_id", "doc_id", "n_terms", "score_micro")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch, s"\n$streamed\nvs\n$batch")
      assert(streamed.map(_._1).distinct == Seq(1L, 2L), "doc 3 must miss")
      // doc 101 is longer: for query 1 the shorter 100 must outscore it
      val q1 = streamed.filter(_._1 == 1L).map(r => r._2 -> r._4).toMap
      assert(q1(100L) > q1(101L))
    } finally { q.stop(); index.unpersist() }
  }
}
