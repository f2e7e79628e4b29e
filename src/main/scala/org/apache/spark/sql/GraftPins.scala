package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The lineage-keeping pin behind the `disk` materialize mode
  * ([[graft.std.Materialize.pinUnregistered]]). It lives in Spark's
  * package because `Dataset.ofRows` is `private[sql]`.
  */
object GraftPins {

  /** `df` computed once into `level` blocks of an RDD that keeps its
    * lineage, so a lost block recomputes from source, and read through
    * a one-node `LogicalRDD` plan like a checkpoint's. A cached
    * Dataset would instead carry its whole plan, every earlier pin's
    * plan nested inside it: a loop that pins each round (connected
    * components) would plan and print a tree that grows with every
    * round.
    */
  def persistRows(df: DataFrame, level: StorageLevel): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rows = qe.toRdd.map(_.copy()).persist(level)
    rows.count()
    val stats = qe.optimizedPlan.stats
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD(ds.logicalPlan.output, rows)(ds.sparkSession,
        Some(Statistics(stats.sizeInBytes, stats.rowCount))))
  }
}
