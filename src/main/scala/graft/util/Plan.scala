package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Join-side planning helpers: broadcast is a *size-conditional* hint,
  * never a hard-coded one. A forced `broadcast(subset)` is a driver OOM
  * the first time a broad filter ("lang = 'en'" on a web corpus) selects
  * 10⁹ ids — the delete path already plans its mapping joins by size;
  * these helpers give the search/FTS paths the same discipline. */
object Plan {

  /** Conservative bytes/row for a single-long-column row in an unsafe
    * row (8B value + offsets/null bits). */
  val BytesPerIdRow = 16L

  /** Driver bytes per subset id held while a resident search applies a
    * subset (~64 B per boxed id in a `HashSet`): a subset is collected
    * to the driver only when its count × this fits the resident budget. */
  val SubsetBytesPerId = 64L

  /** Row count of `ids`. A frame the optimizer folds into a local
    * relation (a filter over a driver-resident image, or ids already
    * collected) is counted from its rows: Spark's `count()` on it would
    * still run jobs for a number already on the driver. */
  def countIds(ids: DataFrame): Long = ids.queryExecution.optimizedPlan match {
    case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.length.toLong
    case _ => ids.count()
  }

  /** Broadcast-hint `df` only when `rowsBound` — a driver-known bound on
    * its row count (an already-computed count, or a static bound like
    * queries × n_decompress) — fits the session's broadcast threshold.
    * Otherwise return it unhinted: Catalyst plans a shuffle join and AQE
    * may still convert at runtime from actual sizes. A disabled
    * threshold (-1) disables hinting too. */
  def broadcastIfBounded(
      df: DataFrame,
      rowsBound: Long,
      bytesPerRow: Long = BytesPerIdRow): DataFrame = {
    val t = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (t > 0 && rowsBound >= 0 && rowsBound <= t / bytesPerRow) broadcast(df)
    else df
  }
}
