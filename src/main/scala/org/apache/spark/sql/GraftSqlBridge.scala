package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Package-scope bridge into the `private[sql]` constructor surface
  * that [[graft.engine.Barriers]] needs: every cut leaf, in either
  * checkpoint mode, is a DataFrame rebuilt here over the already
  * materialized InternalRow RDD. The public
  * `createDataFrame(RDD[Row], schema)` would pay an InternalRow -> Row
  * decode per row per downstream action; this keeps the binary rows,
  * like `Dataset.localCheckpoint`/`checkpoint` do internally, minus
  * their copied-origin statistics (a cut→join→cut loop would compound
  * the inherited join-size products): the leaf gets MEASURED statistics
  * instead, the row count the materialization job just took times the
  * schema's fixed width. The rows stay cached during a reliable
  * checkpoint's file write (see Barriers), so the leaf's RDD is read
  * from the checkpoint files afterwards, never recomputed from the
  * plan. Mechanics are public knowledge (the Spark source); no behavior
  * of Spark is modified.
  */
object GraftSqlBridge {

  /** Wrap a checkpointed `rdd` (the physical rows of `df`, already
    * materialized) as a DataFrame with `rowCount` recorded in the leaf
    * stats. Output attributes are `df`'s analyzed output — attribute
    * ids are preserved, matching Dataset.checkpoint semantics.
    *
    * Deliberately does NOT thread the executed plan's
    * outputPartitioning/outputOrdering onto the leaf (what
    * Dataset.checkpoint's fromDataset does): measured in r19 — the loop
    * family ran a net ~6%% SLOWER with the claims attached (solo
    * best-of-3, threaded 59.6 s vs unthreaded 56.2 s over 28 queries;
    * q_split_leakfree +0.9, q_scc +0.6, q_cc_best +0.6) — a leaf that
    * declares its old hash partitioning steers EnsureRequirements/AQE
    * away from the runtime broadcast plans that win inside hop loops
    * (the r18 AQE-off lesson from the other direction). The Unknown
    * default keeps AQE free to choose. */
  def fromCheckpointedRdd(df: DataFrame, rdd: RDD[InternalRow],
      rowCount: Long): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val rowWidth = df.schema.map(_.dataType.defaultSize).sum + 8
    val stats = Statistics(
      sizeInBytes = BigInt(math.max(rowCount, 1L)) * rowWidth,
      rowCount = Some(BigInt(math.max(rowCount, 0L))))
    val plan = LogicalRDD(df.queryExecution.analyzed.output, rdd)(
      session, Some(stats))
    classic.Dataset.ofRows(session, plan)
  }

  /** `StructType.merge` (the exact field-union rule `mergeSchema = true`
    * applies per footer pair) is `private[sql]` — bridged so
    * VersionedTable can union per-directory single-footer schemas
    * driver-side instead of paying the distributed
    * mergeSchemasInParallel job per COW snapshot (each directory is
    * written by one Spark write and is internally schema-uniform, so
    * one footer per directory determines it). */
  def mergeSchemas(a: types.StructType, b: types.StructType): types.StructType =
    a.merge(b)
}
