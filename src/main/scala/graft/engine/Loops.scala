package graft.engine

import org.apache.spark.sql.SparkSession

/** Shuffle-partition sizing for checkpoint-per-round iterative operators
  * (BFS frontiers, label propagation, CC contraction, H-index rounds).
  *
  * Why: each loop round schedules several stages whose state is a few
  * bare (long, long) columns. Planning those rounds at the batch
  * session's CPU-count partitions pays per-round fixed cost (task
  * launches, AQE stage bookkeeping, checkpoint blocks) proportional to
  * the partition count while the data would fit in one task — the r11
  * streaming lesson (fixed cost scales with shuffle partitions)
  * generalized to hop loops. The r17 rule hardcoded 4 for a few
  * operators; r18 replaces the constant with SIZE-DERIVED sizing so the
  * same code is right in local mode AND on a cluster: partitions =
  * clamp(ceil(rows / RowsPerPartition), 4, session shuffle partitions).
  * 250k rows is a few MB of bare-long state per task; the session
  * partition count stays the upper bound, so cluster deployments with
  * large graphs keep their full parallelism.
  */
object Loops {

  val RowsPerPartition = 250000L

  /** Loop partition count for a loop whose per-round state carries
    * ~`rows` rows: never below 4 (skew headroom on tiny graphs), never
    * above the session's configured shuffle partitions. */
  def partitionsFor(session: SparkSession, rows: Long): Int = {
    val cap = session.conf.get("spark.sql.shuffle.partitions").toInt
    val want = math.max(4L, (rows + RowsPerPartition - 1) / RowsPerPartition)
    math.min(cap.toLong, want).toInt
  }

  /** Run `body` with `spark.sql.shuffle.partitions` sized for `rows`
    * rows of loop state; always restores the previous value. Nesting is
    * safe (set/restore is LIFO). */
  def sized[T](session: SparkSession, rows: Long)(body: => T): T = {
    val prev = session.conf.get("spark.sql.shuffle.partitions")
    session.conf.set("spark.sql.shuffle.partitions",
      partitionsFor(session, rows).toString)
    try body
    finally session.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
