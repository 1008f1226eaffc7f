package graftbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Writes the engine's DuckDB oracle SQL for the named queries as one
  * JSON object, without starting Spark.
  *
  * Usage: graftbench.OracleSql OUT_FILE q1,q2,...
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val oracle = SparkEntry.oracleSql
    val json = Json.obj(args(1).split(",").toSeq.map(n => n -> oracle.get(n)))
    Files.writeString(Paths.get(args(0)), json)
  }
}
