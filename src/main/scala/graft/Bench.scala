package graft
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.core.ExecutedPlans

object Bench {

  /** Physical-plan fingerprint: shuffle-exchange and broadcast-exchange
    * counts over every SQL execution a query ran — eager checkpoints
    * and store builds included, each adaptive plan at its final plan.
    * Wall times on a contended driver host swing 4-5x run to run; the
    * plan shape does not — a changed exchange count is a real
    * regression regardless of load.
    */
  private[graft] def planFingerprint(
      executed: Seq[QueryExecution]): (Int, Int) = {
    // a ReusedExchange (AQE exchange reuse, common in self-join plans)
    // is a leaf of ExecutedPlans.nodes, not a new exchange
    val ns = ExecutedPlans.nodes(executed)
    (ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      ns.count(_.isInstanceOf[BroadcastExchangeLike]))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.GraftSession.build(s"local[$cpus]", cpus)
    // JVM + codegen warmup on the smallest SF so the timed runs measure
    // the plan, not first-query classloading.
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val plans = scala.collection.mutable.LinkedHashMap[String, (Int, Int)]()
    // Dev lever: SPARK_GRAFT_ONLY=p04,p27 times a subset while
    // iterating on one operator. Unset (the driver's mode) = full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_REPEAT=N (default 1): execute each query N times and
    // report the per-query MEDIAN — the round-over-round comparison
    // number. Wall totals on this host swing ~2x with contention
    // (documented 472-971 s range on identical plans); a median over
    // odd N discards the contended outliers instead of averaging them
    // in. The driver's per-round artifact stays single-run; medians
    // land in the committed BENCH_local_r*_medians.json.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    // SPARK_GRAFT_COLDSTORES=1: clear the ArtifactStore (tokenizers,
    // ANN indexes, dedup pairs, classifiers) before every run, so
    // repeat medians measure COLD training cost instead of the
    // memoized within-session reuse (p118's 100-round WordPiece train
    // reads ~0.1s warm vs ~20s cold). Default off — within-session
    // reuse IS the production economics; use this mode when the
    // number being chased is training itself.
    val coldStores = sys.env.get("SPARK_GRAFT_COLDSTORES").contains("1")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.size / 2) // odd N -> true median; even N -> upper median
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val results = selected.map { case (name, fn) =>
      val runs = (1 to repeat).flatMap { _ =>
        if (coldStores) graft.pipeline.ArtifactStore.clear()
        val t0 = System.nanoTime()
        val r = try {
          var t = 0.0
          def run(): Unit = {
            fn(spark, sfDir).count()
            t = (System.nanoTime() - t0) / 1e9
          }
          if (plans.contains(name)) run()
          // fingerprint the first run's executions AFTER the clock
          // stops: plan walking stays out of the wall numbers
          else plans(name) = planFingerprint(ExecutedPlans.capture(spark)(run()))
          Some(t)
        } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage)
              .getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
            Some((System.nanoTime() - t0) / 1e9)
        }
        spark.catalog.clearCache() // per-query persist()s must not accumulate
        r
      }
      name -> median(runs)
    }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"\"$k\":\"$v\"" }.mkString("{", ",", "}")
    val planJson = plans
      .map { case (k, (sh, bc)) => s"""\"$k\":{"shuffles":$sh,"broadcasts":$bc}""" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"plans":$planJson,"errors":$errs,"n_errors":${errors.size},"repeat":$repeat,"sf":"$sfDir"}""")
    // Compact tail line AFTER the full JSON: the harness that collects
    // this output keeps only the last ~2000 stdout characters, and the
    // full line above (per-query timings + plan fingerprints for 120+
    // queries) is far longer than that — without this line the
    // artifact's tail would carry fingerprints but lose every timing.
    // Keep it well under the tail window: total, error count, and the
    // ten slowest queries are the numbers a reader needs first.
    val top10 = results.toSeq.sortBy { case (n, sec) => (-sec, n) }.take(10)
      .map { case (n, sec) => s"""\"$n\":${math.round(sec * 100) / 100.0}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"top10_slowest":$top10,"sf":"$sfDir"}""")
    spark.stop()
  }
}
