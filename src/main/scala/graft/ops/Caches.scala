package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Persisted intermediates, so a long-lived session running many queries
  * (a query harness) can release them between queries instead of
  * accumulating cached blocks. Spark's cache manager is the registry: it
  * already holds every frame [[trackPersist]] persisted, so [[releaseAll]]
  * clears it. There is no per-run scope — a release drops every cached
  * frame in the session — which holds because no caller runs two queries
  * at once in one session. Single-query sessions never need to call
  * [[releaseAll]].
  */
object Caches {
  def trackPersist(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /** [[trackPersist]] that passes a STREAMING plan through unpersisted —
    * persist on a streaming frame throws AnalysisException, and the ops
    * that cache multi-branch inputs (spearman, macroAuc,
    * classificationCounts) are legitimate micro-batch citizens whose
    * foreachBatch frames ARE batch; only a genuinely streaming plan skips.
    */
  def trackPersistBatch(df: DataFrame): DataFrame =
    if (df.isStreaming) df else trackPersist(df)

  /** Drops every cached frame without blocking on block removal; a no-op
    * when no session exists (Spark returns neither a stopped active nor a
    * stopped default session).
    */
  def releaseAll(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.catalog.clearCache())
}
