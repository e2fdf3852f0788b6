package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Package bridge to `SparkSession.internalCreateDataFrame` (private[sql]
  * in the public Spark source — sql/core SparkSession.scala), used by
  * `graft.rel.Materialize.pin` to re-root an iterative plan on a cached
  * InternalRow RDD without a Row round-trip: UnsafeRow blocks cache as
  * compact bytes (the same storage `localCheckpoint` used) and the
  * re-rooted LogicalRDD leaf keeps per-round plan analysis O(1) in the
  * connected-components loop.
  */
object GraftInternalAccess {
  def fromInternal(spark: classic.SparkSession,
      rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.internalCreateDataFrame(rdd, schema)

  /** Re-root on a cached InternalRow RDD PRESERVING the origin plan's
    * statistics and constraints — the same `LogicalRDD.fromDataset` path
    * `Dataset.checkpoint` uses (private[sql] in sql/core
    * execution/ExistingRDD.scala). Unlike the bare [[fromInternal]] leaf
    * (default stats), consumers of the pinned frame keep stats-driven join
    * planning. */
  def fromInternalPreserving(rdd: RDD[InternalRow], origin: DataFrame)
      : DataFrame = {
    val ds = origin.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        rdd, ds, isStreaming = false))
  }

  /** [[fromInternalPreserving]] minus the origin STATISTICS: the leaf
    * keeps the conservative default sizeInBytes so no consumer
    * auto-broadcasts it.
    * For pinned frames whose true size the estimator badly under-counts
    * (collect_set array payloads), a stats-driven broadcast is wrong at
    * every scale. */
  def fromInternalPreservingLayout(rdd: RDD[InternalRow], origin: DataFrame)
      : DataFrame = {
    val ds = origin.asInstanceOf[classic.Dataset[_]]
    val lr = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      rdd, ds, isStreaming = false)
    classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD(
        lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
        lr.isStreaming)(ds.sparkSession, None, None))
  }

  /** Bridge to `Dataset.ofRows` (private[sql], sql/core classic/Dataset
    * .scala) — turns a hand-built logical plan (e.g. `graft.plans.AsOfJoin`)
    * back into a public `DataFrame`, running it through the session's full
    * analyze/optimize/plan pipeline like any API-built query. */
  def ofRows(spark: classic.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark, plan)

  /** Bridge to `DataSourceStrategy.translateFilter` — the canonical
    * catalyst-Expression → `sources.Filter` translation every connector's
    * pushdown uses. `graft.table.GraftFilterRanges` reuses it, so the
    * native file index and DELETE/UPDATE conditions prune files with
    * exactly the semantics the DSv2 scan's pushed filters have. */
  def translateFilter(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)
}
