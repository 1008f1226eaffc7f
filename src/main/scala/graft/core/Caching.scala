package graft.core

import org.apache.spark.sql.DataFrame

/** Deterministic cache bracket for multi-use intermediates.
  *
  * The near-dup detectors and semantic dedup each build one expensive
  * intermediate (shingle sets, cell assignment) that feeds several
  * downstream branches. Caching it is the point — but a bare
  * `persist()` leaks a CacheManager entry until someone calls
  * `clearCache()`, which a long-lived service composing several
  * detectors in one session won't do between calls.
  *
  * [[withCached]] closes the bracket: persist the intermediates, build
  * the result plan, materialize it eagerly (`localCheckpoint` — the
  * same lineage-truncation device [[graft.operators.ConnectedComponents]]
  * uses; results here are pair/decision sets, orders of magnitude
  * smaller than the corpus), then unpersist the intermediates before
  * returning. The caller gets a block-backed DataFrame with no cache
  * entries left behind — `CachingSpec` asserts the CacheManager is
  * empty after every detector materializes.
  */
object Caching {

  /** Persist `intermediates`, build + eagerly materialize the result,
    * release the intermediates. The returned frame is localCheckpointed
    * (computed exactly once; safe to reuse without recomputation).
    *
    * Contract for callers: the bracketed job runs EAGERLY at call time
    * (not at first action), and the checkpointed blocks are not
    * recoverable on executor loss — the right trade for pair/decision
    * sets that are orders of magnitude smaller than their inputs and
    * about to be written anyway. The returned frame's plan is an
    * opaque LogicalRDD: the bracketed plan is visible only as an
    * executed plan ([[ExecutedPlans.capture]]).
    */
  def withCached(intermediates: DataFrame*)(build: => DataFrame): DataFrame = {
    intermediates.foreach(_.persist())
    try build.localCheckpoint(eager = true)
    finally intermediates.foreach(_.unpersist())
  }

  /** [[withCached]] for SEVERAL results sharing the same persisted
    * intermediates: each result materializes off the shared blocks,
    * then the intermediates release once. The scorecard-style
    * composites use this to pay for an expensive shared frame (a
    * candidate-hit join) exactly once across sibling pipelines.
    */
  def withCachedMulti(intermediates: DataFrame*)(
      build: => Seq[DataFrame]): Seq[DataFrame] = {
    intermediates.foreach(_.persist())
    try build.map(_.localCheckpoint(eager = true))
    finally intermediates.foreach(_.unpersist())
  }

  /** Materialize several INDEPENDENT frames' local checkpoints
    * concurrently (optimization-guide §2.6: actions are only
    * sequential because the driver calls them sequentially). Each
    * branch's straggler tail is back-filled by the next branch's
    * tasks under the default FIFO scheduler. Only for branches with
    * no mutual ordering (no shared mutable artifact directories
    * between them); results are position-stable.
    */
  def checkpointAllParallel(dfs: Seq[DataFrame]): Seq[DataFrame] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = dfs.map(df => Future(df.localCheckpoint(eager = true)))
    fs.map(Await.result(_, Duration.Inf))
  }
}
