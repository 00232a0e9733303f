package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.LogicalRDD

/** Materializes a frame once, as a local checkpoint held by a one-node
  * plan: a `LogicalRDD` leaf with no lineage back to the frame's plan.
  * `Dataset.localCheckpoint` alone declares the partitioning of the
  * executed adaptive plan, which later plans cannot use, and the size
  * the optimizer estimated for the frame, which over a few joins is
  * astronomical. A frame of one partition is declared `SinglePartition`
  * here, so aggregates and sorts over the leaf plan no exchange, and its
  * size is the stored size of that partition. Lives in this package for
  * `classic.Dataset.ofRows` and the storage info of one RDD. */
object LocalLeaf {
  def apply(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint().asInstanceOf[classic.Dataset[Row]]
    cp.logicalPlan match {
      case l: LogicalRDD if l.rdd.getNumPartitions == 1 =>
        val session = cp.sparkSession
        val stored = session.sparkContext.getRDDStorageInfo(_.id == l.rdd.id)
          .map(i => i.memSize + i.diskSize).sum
        classic.Dataset.ofRows(session,
          l.copy(outputPartitioning = SinglePartition)(
            session, Some(Statistics(sizeInBytes = stored)), Some(l.constraints)))
      case _ => cp
    }
  }
}
