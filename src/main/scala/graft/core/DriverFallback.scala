package graft.core

import org.apache.spark.sql.Dataset

/**
 * The adaptive small-input fallback shared by every iterative operator
 * (connected components, the [[graft.kg.Graphs]] loops, PageRank, temporal
 * reach, BPE training): when the input fits on the driver, run the exact
 * sequential algorithm there; otherwise run the distributed loop.
 *
 * Sizing: a driver loop collects at most [[MaxEdges]] edge tuples of
 * <= 24 B each (24 MB at the bound) and runs at memory speed, while each
 * distributed round pays a few scheduled jobs of fixed latency — on a
 * 10^5–10^6-edge graph an iterative operator spends its runtime on round
 * latency, not work. Inputs past the bound take the distributed path, so
 * driver memory never grows with the corpus.
 */
object DriverFallback {

  /** The one edge bound for every driver fallback. */
  val MaxEdges = 1000000L

  /** The rows of `ds` when there are at most `bound` of them, else None —
    * decided by ONE bounded `limit(bound + 1).collect()`, so the decision
    * and the driver input cost a single result job (plus the shuffle-map
    * stages `ds` itself needs). The `coalesce(1)` keeps it one job at any
    * input partitioning: a bare collect-limit scans partitions in growing
    * rounds (1, 4, 16, ...), one job each. The input is not cached; a
    * caller that iterates over it on the distributed path checkpoints it
    * there. */
  def collectIfAtMost[T](ds: Dataset[T], bound: Long): Option[Array[T]] = {
    require(bound >= 0, s"bound must be >= 0, got $bound")
    val rows = ds.coalesce(1).limit((math.min(bound, Int.MaxValue - 1L) + 1).toInt).collect()
    if (rows.length <= bound) Some(rows) else None
  }
}
