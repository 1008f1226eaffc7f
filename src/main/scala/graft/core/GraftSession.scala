package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Parity note: the reference (pedsnetdcc) delegates all execution to
  * PostgreSQL over up to 25 worker connections
  * (/root/reference/pedsnetdcc/db.py:313-320). In Spark the equivalent
  * knobs are shuffle parallelism + AQE, configured once here.
  *
  * Scale design: every setting below is chosen to survive a 1000-executor
  * cluster unchanged except `master` / `shuffle.partitions`, which callers
  * override via spark-submit in cluster mode (the builder only applies
  * defaults when the key is absent from the submit conf).
  */
object GraftSession {

  /** Local-mode defaults used by tests / Verify / Bench. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    build(s"local[$cores]", cores)

  def build(master: String, shufflePartitions: Int): SparkSession = {
    val b = SparkSession
      .builder()
      .appName("graft")
      // native Catalyst functions addressable from plain SQL
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // era/as-of plans union wide lineages; keep broadcast autonomy on
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // HotSpot refuses to JIT methods past 8000 bytecode bytes
      // (-XX:DontCompileHugeMethods), so a fused whole-stage method
      // bigger than that runs in the bytecode INTERPRETER forever —
      // measured 4x slower than Spark's interpreted-expression path on
      // the folded-literal ANN scans (PQ argmin trees compile to ~12 KB).
      // Spark's default fallback threshold (65535) only protects against
      // the JVM's hard 64 KB limit; align it with the JIT limit so any
      // stage the JIT would abandon falls back to interpreted expressions
      // instead. Same reasoning holds on a 1000-executor cluster: an
      // interpreter-stuck hot loop is a throughput bug at any scale.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      // the synthetic events table carries parquet TIMESTAMP(NANOS); Spark
      // has no nanos TimestampType, so surface them as raw Long nanos and
      // convert explicitly at the read site (see Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // catalog-managed tables (bucketed layouts — the reference's
      // index parity, SURVEY.md §2.11) need a writable warehouse
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.catalogImplementation", "in-memory")
    if (master.nonEmpty) b.master(master)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
