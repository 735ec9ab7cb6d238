package org.apache.spark.sql.graftx

import org.apache.spark.sql.{DataFrame, SparkSession => ApiSession}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/**
 * The engine's own execution regime for one operator call: AQE off and
 * `spark.sql.shuffle.partitions` = `width`, set on a clone of the caller's
 * session, never on the caller's.
 *
 * Why a clone: the kernel's plans fix their own layouts (explicit
 * `repartition(width, keys)` plus stamped checkpoints), so AQE's per-stage
 * re-optimization only adds driver round-trips and, on a small graph,
 * fans one plan out into many concurrent stage jobs; and the combine
 * exchange must come out at exactly `width` to stay co-partitioned with
 * the hash(vid, width) state. Flipping those two keys on the shared
 * session leaked them into the caller whenever an exit path skipped the
 * restore, and raced any query planned concurrently on it. The clone
 * (`cloneSession`: the caller's full SQL conf, functions and temp views)
 * shares the SparkContext and the CacheManager, so a relation the caller
 * cached is still read from its cache inside the scope, and the caller's
 * session is left exactly as it was found on every exit path.
 *
 * Lives under `org.apache.spark.sql` for `private[sql]` access to
 * `cloneSession` and `Dataset.ofRows`, like [[PartitionedCheckpoint]].
 */
final class EngineScope private (val session: SparkSession, val width: Int) {

  /** `df` rebound into this scope: the same analyzed plan, planned and
   * executed under the scope's conf. Cached sub-plans still match. */
  def apply(df: DataFrame): DataFrame = Dataset.ofRows(session, df.queryExecution.analyzed)
}

object EngineScope {

  /** Rows per partition the adaptive width aims for when the caller does
   * not say otherwise (small inputs must not pay `cap` tasks per stage). */
  val DefaultRowsPerPartition: Long = 32768L

  /** The adaptive width: min(cap, ceil(rows / rowsPerPartition)), at
   * least 1. `rowsPerPartition` <= 0 disables adaptivity (always `cap`). */
  def width(rows: Long, cap: Int, rowsPerPartition: Long): Int =
    if (rowsPerPartition <= 0) cap
    else math.min(cap.toLong, math.max(1L, (rows + rowsPerPartition - 1) / rowsPerPartition)).toInt

  /** A scope over a clone of `caller` with AQE off and shuffle width `width`. */
  def apply(caller: ApiSession, width: Int): EngineScope = {
    val s = caller.asInstanceOf[SparkSession].cloneSession()
    s.sessionState.conf.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    s.sessionState.conf.setConf(SQLConf.SHUFFLE_PARTITIONS, width)
    new EngineScope(s, width)
  }
}
