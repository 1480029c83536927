package graft.engine

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.AccumulatorV2

/** The per-round materialization barrier for iterative operators
  * (connected components, PageRank, BFS, BPE merges, OPTIMIZE rewrites).
  *
  * Every entry point is a view of ONE counted materialization: the
  * plan's rows are copied, marked for checkpointing and counted by a
  * single `count()`, and the count becomes the new leaf's statistics
  * ([[GraftSqlBridge.fromCheckpointedRdd]]). That gives two things:
  * (1) EAGER materialization, so round N's plan does not embed round
  * N−1's (repo rule; r5's q_cc_labels OOM'd explainString that way);
  * (2) a leaf with MEASURED stats, so a cut→join→cut loop cannot
  * compound inherited join-size products (BarriersSpec's cap test).
  *
  * Durability is picked off the session:
  *  - no checkpoint dir (the default): `localCheckpoint`, blocks are
  *    EXECUTOR-RESIDENT — fastest, but a lost executor loses blocks whose
  *    lineage was truncated. One job per call.
  *  - a checkpoint dir (`sparkContext.setCheckpointDir`, typically
  *    HDFS/object storage): a RELIABLE checkpoint that survives executor
  *    churn. Spark writes the files in a second job after the count; the
  *    rows are cached (MEMORY_AND_DISK) for that write so it reads the
  *    cached blocks instead of re-running the plan, then released. Two
  *    jobs per call, the plan evaluated once.
  *
  * Results are identical either way (BarriersSpec pins both modes).
  */
object Barriers {

  /** Materialize `df` eagerly and cut its lineage. */
  def cut(df: DataFrame): DataFrame = materialize(df, None)._1

  /** [[cut]] plus the materialized row count, from the same job — hop
    * loops test convergence ("frontier empty") without a second action. */
  def cutCounted(df: DataFrame): (DataFrame, Long) = {
    val (c, n, _) = materialize(df, None)
    (c, n)
  }

  /** [[cutCounted]] plus an order-independent XOR of `hash(row)` over the
    * materialized rows, folded by the same job. Fingerprint only: a
    * re-executed task can double-fold (accumulator updates in
    * transformations are not exactly-once), so callers MUST confirm a
    * match exactly before acting on it, as
    * [[graft.operators.Dedup.connectedComponents]] does with `exceptAll`.
    * `hash` reads the physical InternalRow. */
  def cutFingerprinted(df: DataFrame, hash: InternalRow => Long)
      : (DataFrame, Long, Long) = materialize(df, Some(hash))

  private def materialize(df: DataFrame, hash: Option[InternalRow => Long])
      : (DataFrame, Long, Long) = {
    val sc = df.sparkSession.sparkContext
    val xor = new XorAccumulator
    // rows are copied: UnsafeRow buffers are reused per partition
    val rdd = hash match {
      case Some(h) =>
        sc.register(xor, "graft.cutFingerprint")
        df.queryExecution.toRdd.map { r => xor.add(h(r)); r.copy() }
      case None => df.queryExecution.toRdd.map(_.copy())
    }
    val reliable = sc.getCheckpointDir.isDefined
    if (reliable) { rdd.persist(StorageLevel.MEMORY_AND_DISK); rdd.checkpoint() }
    else rdd.localCheckpoint()
    val n = try rdd.count() finally if (reliable) rdd.unpersist(blocking = false)
    (GraftSqlBridge.fromCheckpointedRdd(df, rdd, n), n, xor.value)
  }

  /** Order-independent 64-bit XOR accumulator. */
  private final class XorAccumulator extends AccumulatorV2[Long, Long] {
    private var v = 0L
    override def isZero: Boolean = v == 0L
    override def copy(): XorAccumulator = { val a = new XorAccumulator; a.v = v; a }
    override def reset(): Unit = v = 0L
    override def add(x: Long): Unit = v ^= x
    override def merge(o: AccumulatorV2[Long, Long]): Unit = v ^= o.value
    override def value: Long = v
  }

  /** Postfix form: `plan.barrierCut`. */
  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    def barrierCut: DataFrame = cut(df)
  }
}
