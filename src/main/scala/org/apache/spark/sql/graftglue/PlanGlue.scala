package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Bridge to Spark's `private[sql]` Dataset constructor and execution
  * scope, for [[graft.Materialize.pin]]. Same access-qualifier reason as
  * [[ColumnGlue]]. */
object PlanGlue {

  /** Execute `df` once, as one SQL execution named `name` (listeners see
    * it like any action), into a persisted row RDD, and return a frame
    * whose logical plan is that RDD alone. The leaf carries the measured
    * row count and stored bytes as its statistics, as a cache entry
    * would. The RDD keeps its lineage: once unpersisted, a read recomputes
    * it instead of failing. */
  def pin(df: DataFrame, level: StorageLevel, name: String): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rdd = qe.executedPlan.execute().map(_.copy()).setName(name).persist(level)
      val rows =
        try rdd.count()
        catch { case e: Throwable => rdd.unpersist(false); throw e }
      val bytes = session.sparkContext.getRDDStorageInfo
        .find(_.id == rdd.id).map(i => i.memSize + i.diskSize).getOrElse(0L)
      val lr = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
      classic.Dataset.ofRows(session,
        LogicalRDD(lr.output, rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming)(session, Some(Statistics(BigInt(math.max(bytes, 1L)),
          Some(BigInt(rows)))), None))
    }
  }
}
