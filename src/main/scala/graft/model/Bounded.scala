package graft.model

import org.apache.spark.sql.Dataset

/** The one bounded driver collect behind the engine's driver-side gates:
  * [[graft.ops.Dedup.connectedComponents]]'s union-find,
  * [[graft.ops.Learn.logregQuality]]'s sufficient-statistics descent and
  * [[graft.ops.TextOps.lmGreedyDecode]]'s successor map. Each gate asks
  * "is this table small enough to finish on the driver?" and, when it is,
  * needs the rows themselves — so the question and the answer are ONE
  * action (a `limit(gate + 1)` collect), never a count followed by a
  * collect. The driver holds at most `gate + 1` rows either way.
  */
private[graft] object Bounded {

  /** The fixed row bound of the learn-family gates, and the default of
    * the connected-components gate: 1M rows is tens of MB on the driver
    * (the bounded-collect class the engine accepts for k-means centroids
    * and Bloom positions). */
  val DriverRows = 1000000

  /** Every row of `ds` when it has at most `gate` rows, else `None`.
    * `gate <= 0` answers `None` without running a job (the specs' way to
    * force a gate's distributed path). */
  def collect[T](ds: Dataset[T], gate: Long): Option[Array[T]] =
    if (gate <= 0) None
    else {
      val n = math.min(gate, Int.MaxValue - 1L).toInt
      val rows = ds.limit(n + 1).collect()
      if (rows.length <= n) Some(rows) else None
    }
}
