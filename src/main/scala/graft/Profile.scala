package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.ListenerBridge
import scala.collection.mutable.ArrayBuffer

/** Per-stage profiler for one or more declared queries — measurement
  * tooling for the optimization rounds (guide §1: measure first).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.Profile p177 p189
  *
  * Runs each matching query once (same session/config as Bench), then
  * prints the stages sorted by executor run time with shuffle bytes,
  * task counts, and max/median task skew — the numbers the Spark UI
  * would show, without the UI.
  */
object Profile {
  private case class StageRow(name: String, stage: Int, tasks: Int,
      runMs: Long, cpuMs: Long, shufReadMB: Double, shufWriteMB: Double,
      inputMB: Double, spillMB: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.GraftSession.build(s"local[$cpus]", cpus)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    val rows = ArrayBuffer[StageRow]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        rows += StageRow(si.name.takeWhile(_ != '\n').take(80), si.stageId,
          si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead / 1048576.0,
          m.shuffleWriteMetrics.bytesWritten / 1048576.0,
          m.inputMetrics.bytesRead / 1048576.0,
          m.diskBytesSpilled / 1048576.0)
      }
    })

    val wanted = args.toSet
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted.exists(n.startsWith) }
    qs.foreach { case (name, fn) =>
      rows.clear()
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBridge.drain(spark.sparkContext)
      val snap = rows.sortBy(-_.runMs).toSeq
      val totRun = snap.map(_.runMs).sum
      println(f"%n=== $name  wall=$wall%.2fs  stages=${snap.size}  sumRunTime=${totRun / 1000.0}%.1fs ===")
      println(f"${"stage"}%6s ${"tasks"}%5s ${"run_s"}%8s ${"cpu_s"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s ${"in_MB"}%8s ${"spill"}%6s  name")
      snap.take(25).foreach { r =>
        println(f"${r.stage}%6d ${r.tasks}%5d ${r.runMs / 1000.0}%8.2f ${r.cpuMs / 1000.0}%8.2f ${r.shufReadMB}%8.2f ${r.shufWriteMB}%8.2f ${r.inputMB}%8.2f ${r.spillMB}%6.1f  ${r.name}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
