package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkEntry
import graft.core.GraftSession
import graft.queries.ParityQueries

/** One benchmark run: a fresh JVM builds the session, runs ONE timed pass
  * over the given queries in the given order, and persists every query's
  * full result as parquet (as the DCC's CTAS steps persist theirs).
  * Correctness is checked by the caller, outside the timed region.
  *
  * Usage: graftbench.Pass --entry DIR --data DIR --out DIR
  *   --queries q1,q2,... --cpus N --trace 0|1 --result FILE [--spans FILE]
  *
  * `--entry` holds the sf0.001 tables the set-up's entry query reads.
  *
  * `--result` receives the end-to-end numbers and each query's oracle
  * SQL: `setup_s` from JVM start until the session has run the entry
  * query; `wall_s` and `cpu_s` summed over the queries, each from its
  * call until its result is persisted and its cache released; and
  * `peak_live_heap_mb`, the largest heap in use after a full collection
  * at a query boundary. With `--trace 1` a [[Tracer]] is registered for the pass and its
  * spans (run > query > build|sink > job > stage, plus Catalyst
  * executions) go to `--spans` as JSON lines once the pass has ended.
  */
object Pass {

  /** Epoch microseconds from the monotonic clock. */
  private object Clock {
    private val baseUs = System.currentTimeMillis() * 1000
    private val baseNs = System.nanoTime()
    def us: Long = baseUs + (System.nanoTime() - baseNs) / 1000
  }

  /** Heap still in use after a full collection. The first collection
    * hands Spark's ContextCleaner the broadcasts and shuffles that became
    * unreachable; the second, once the cleaner has dropped their blocks,
    * keeps what merely awaits cleanup out of the reading.
    */
  private def liveHeapBytes(): Long = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = os.getProcessCpuTime
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileMs: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2)
      .collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = opt("data")
    val outDir = opt("out")
    val names = opt("queries").split(",").toSeq
    val cpus = opt("cpus").toInt
    val traced = opt("trace") == "1"

    val spark = GraftSession.build(s"local[$cpus]", cpus)
    // the sf0.001 entry query, as graft.Bench runs it before timing:
    // first-query class loading belongs to set-up, not to the pass
    ParityQueries.q01Agg(spark, opt("entry")).count()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val catalog = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val fns = names.map(n => n -> catalog.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))

    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val ids = Iterator.from(2).map(_.toLong)
    val harness = Seq.newBuilder[Span]
    val perQuery = Seq.newBuilder[String]
    var unpersists = 0L

    // After each query the harness forces a full collection to read the
    // live heap; that probe is kept out of the pass totals.
    var peakLiveHeap = 0L
    var (wallUs, cpuNsSum, jitMsSum, gcMsSum) = (0L, 0L, 0L, 0L)
    val cgMs0 = compileMs
    val cg0 = compiles
    val passStart = Clock.us
    for ((name, fn) <- fns) {
      val qId = ids.next()
      val (qCpu, qJit, qGc, qCg) = (cpuNs, jitMs, gcMs, compiles)
      val t0 = Clock.us
      var t1 = t0
      var t2 = t0
      val error = try {
        val df = fn(spark, dataDir)
        t1 = Clock.us
        df.write.mode("overwrite").parquet(s"$outDir/$name")
        t2 = Clock.us
        None
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = Clock.us
          t2 = Clock.us
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
      // graft.Bench's per-query release: queries persist() intermediates
      // that must not accumulate across the pass. Count what it frees.
      val pinned = spark.sparkContext.getPersistentRDDs.size
      spark.catalog.clearCache()
      val freed = pinned - spark.sparkContext.getPersistentRDDs.size
      unpersists += freed
      val t3 = Clock.us
      val (dCpu, dJit, dGc) = (cpuNs - qCpu, jitMs - qJit, gcMs - qGc)
      wallUs += t3 - t0
      cpuNsSum += dCpu
      jitMsSum += dJit
      gcMsSum += dGc
      val live = liveHeapBytes()
      peakLiveHeap = math.max(peakLiveHeap, live)
      error.foreach(m => System.err.println(s"[perfbench] $name failed: $m"))
      perQuery += Json.obj(Seq("name" -> name, "error" -> error,
        "build_s" -> (t1 - t0) / 1e6, "sink_s" -> (t2 - t1) / 1e6,
        "live_heap_mb" -> live / 1048576.0, "oracle_sql" -> oracle.get(name)))
      harness += Span(qId, 1, "query", name, t0, t3, Seq(
        "ok" -> error.isEmpty, "unpersists" -> freed, "cpu_ms" -> dCpu / 1e6,
        "jit_ms" -> dJit, "gc_ms" -> dGc, "codegen_compiles" -> (compiles - qCg)))
      harness += Span(ids.next(), qId, "build", name, t0, t1, Nil)
      harness += Span(ids.next(), qId, "sink", name, t1, t2, Nil)
    }
    val passEnd = Clock.us

    tracer.foreach { t =>
      val run = Span(1, 0, "run", opt.getOrElse("workload", "pass"),
        passStart, passEnd, Seq("cores" -> cpus, "queries" -> names.size,
          "wall_ms" -> wallUs / 1e3, "cpu_ms" -> cpuNsSum / 1e6,
          "jit_ms" -> jitMsSum, "gc_ms" -> gcMsSum,
          "codegen_compiles" -> (compiles - cg0),
          "codegen_compile_ms" -> (compileMs - cgMs0),
          "unpersists" -> unpersists))
      val own = harness.result()
      val (sparkSpans, counters) = t.spans(spark, run +: own, () => ids.next())
      val lines = (run +: own ++: sparkSpans).map(_.json) :+
        Json.obj(("kind" -> "counters") +: counters)
      Files.write(Paths.get(opt("spans")), lines.asJava)
    }

    val result = Json.obj(Seq(
      "setup_s" -> setupS,
      "wall_s" -> wallUs / 1e6,
      "cpu_s" -> cpuNsSum / 1e9,
      "peak_live_heap_mb" -> peakLiveHeap / 1048576.0,
      "unpersists" -> unpersists,
      "queries" -> Json.raw(perQuery.result().mkString("[", ",", "]"))))
    Files.writeString(Paths.get(opt("result")), result)
    spark.stop()
    sys.exit(0)
  }
}
