package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.graftshim.ColumnShim
import graft.plans.BandedRangeJoin

/** Explicit entry for the banded range-join rewrite
  * ([[graft.plans.BandedRangeJoin]]): build the naive theta join with
  * the plain DataFrame API, then hand it here with a band width.
  *
  * {{{
  * val naive  = points.join(intervals,
  *   $"ts" >= $"win_lo" && $"ts" <= $"win_hi")        // nested-loop
  * val scaled = RangeJoin.banded(naive, 300L * 1000 * 1000) // 5-min bands
  * }}}
  *
  * Unlike the conf-gated optimizer-rule path this touches exactly one
  * query, so it composes with sessions [[graft.Graft.install]] never
  * ran on. Bin units: epoch micros for timestamp
  * domains, the raw value for integer domains.
  */
object RangeJoin {

  def banded(joined: DataFrame, binSize: Long): DataFrame = {
    var hit = false
    val rewritten = joined.queryExecution.analyzed.transform {
      case j: Join =>
        BandedRangeJoin.rewriteJoin(j, binSize) match {
          case Some(p) => hit = true; p
          case None    => j
        }
    }
    require(hit,
      "no rewritable range inner join found: need either cross-side lower " +
        "AND upper bounds on one integral/timestamp/date expression (with " +
        "no existing cross-side equi-conjunct), or an interval-overlap " +
        "pair sL <= eR AND sR <= eL")
    ColumnShim.ofRows(joined.sparkSession, rewritten)
  }
}
