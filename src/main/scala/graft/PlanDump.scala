package graft

import graft.core.ExecutedPlans

/** Dump the plans each named query executed to files — the plan
  * evidence for optimization work.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <queryPrefix...>
  * Writes <outDir>/<query>_<suffix>.txt for each matching query: the
  * formatted final plan of every SQL execution the query ran (eager
  * checkpoints and store builds included), in order. The result is
  * materialized with a `noop` write, so no column is pruned away.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val wanted = args.drop(2).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.GraftSession.build(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        val executed = ExecutedPlans.capture(spark) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        val p = executed.zipWithIndex.map { case (qe, i) =>
          s"== execution ${i + 1} of ${executed.size} ==\n" +
            ExecutedPlans.explain(qe)
        }.mkString("\n")
        val f = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
        try f.write(p) finally f.close()
        println(s"wrote $outDir/${name}_$suffix.txt")
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
