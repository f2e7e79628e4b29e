package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** The one pin builder behind [[graft.std.Materialize.pinUnregistered]].
  * It lives in Spark's package because `Dataset.ofRows` and
  * `LogicalRDD.fromDataset` are `private[sql]`.
  */
object GraftPins {

  /** `df` computed once, by one job after its shuffles, into one RDD
    * read through a one-node `LogicalRDD` plan — the node Spark's own
    * `localCheckpoint` builds. A cached Dataset would carry its whole
    * plan instead, so a loop that pins every round would plan a tree
    * that grows every round. `disk = false` local-checkpoints the RDD
    * (lineage truncated: a lost block fails the read); `disk = true`
    * persists it DISK_ONLY with its lineage (a lost block recomputes).
    *
    * With `keys` the rows are first repartitioned into
    * `spark.sql.shuffle.partitions` hash partitions on them and the pin
    * declares that `HashPartitioning`, so consumers grouping or joining
    * on `keys` plan no exchange on it. AQE never coalesces a repartition
    * to a fixed count, so the declaration holds; an unkeyed pin of an
    * AQE plan reports no partitioning, as Spark's checkpoint does.
    */
  def pin(df: DataFrame, keys: Seq[Column], disk: Boolean): DataFrame = {
    val in = df.asInstanceOf[classic.Dataset[Row]]
    val spark = in.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val ds = if (keys.isEmpty) in else in.repartition(n, keys: _*)
    val qe = ds.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe) {
      val r = qe.executedPlan.execute().map(_.copy())
      if (disk) r.persist(StorageLevel.DISK_ONLY) else r.localCheckpoint()
      r.count()
      r
    }
    val lr = LogicalRDD.fromDataset(rows, ds, isStreaming = false)
    val keyed = qe.analyzed match {
      case r: RepartitionByExpression if keys.nonEmpty =>
        lr.copy(outputPartitioning =
          HashPartitioning(r.partitionExpressions, n))(
          spark, Some(lr.computeStats()), Some(lr.constraints))
      case _ => lr
    }
    classic.Dataset.ofRows(spark, keyed)
  }
}
