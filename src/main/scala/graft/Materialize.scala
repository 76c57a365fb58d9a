package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftglue.PlanGlue
import org.apache.spark.storage.StorageLevel

/** One materialize/release discipline for frames a function computes once
  * and reads many times.
  *
  *  - [[pin]]: eager, MEMORY_AND_DISK, and the result is a LEAF plan over
  *    the persisted rows. A `Dataset.cache()` frame keeps its input's full
  *    plan (an `InMemoryRelation` prints its cached plan inside every
  *    consumer), so an iterative trainer that caches each round nests
  *    every previous round: adaptive execution re-renders that plan
  *    string at each stage update, and the driver, not the work, bounds
  *    the loop. A pinned frame renders as one `Scan ExistingRDD` line.
  *  - [[truncate]]: an eager checkpoint for loops whose rounds must not
  *    keep their lineage at all (reliable when the session has a
  *    checkpoint dir, local otherwise).
  *  - [[release]] / [[dropCheckpoint]]: give back what those made.
  *
  * A pinned frame keeps its RDD lineage, so it survives executor loss and,
  * after [[release]], a read recomputes instead of failing. Pinned RDDs
  * are not cache-manager entries: `clearCache()` does not reach them —
  * whoever pins releases. */
object Materialize {

  private val PinName = "graft.pin"

  /** Compute `df` now and return the same rows behind a leaf plan. One job
    * (plus the stages of `df` itself); [[rows]] then costs none. */
  def pin(df: DataFrame): DataFrame =
    PlanGlue.pin(df, StorageLevel.MEMORY_AND_DISK, PinName)

  /** Row count of a [[pin]]ned frame, from the statistics the pin measured;
    * any other frame is counted. */
  def rows(df: DataFrame): Long = leaf(df).filter(_.rdd.name == PinName)
    .flatMap(_.computeStats().rowCount).map(_.toLong).getOrElse(df.count())

  /** Release what `df` holds: a pinned or checkpointed leaf's RDD (and its
    * reliable checkpoint files), or a cache entry. Non-blocking, and a
    * no-op on a plain lazy frame or a second call. */
  def release(df: DataFrame): Unit = leaf(df) match {
    case Some(lr) =>
      dropCheckpoint(df)
      lr.rdd.unpersist(blocking = false): Unit
    case None => df.unpersist(false): Unit
  }

  /** Truncate lineage between rounds of an iterative loop: a RELIABLE
    * checkpoint when the session has a checkpoint dir (survives executor
    * loss — required on a real cluster), else an eager localCheckpoint
    * (fine on local[n], where executor loss means the app is gone
    * anyway). */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Best-effort removal of a frame's RELIABLE checkpoint files once
    * nothing downstream can reference them. Without this every round of
    * a loop leaks a full copy to the checkpoint dir
    * (`spark.cleaner...cleanCheckpoints` defaults off). A failure costs
    * storage, not correctness.
    *
    * The checkpointed RDD must be taken from the `LogicalRDD` leaf that
    * `df.checkpoint(true)` produced — `queryExecution.toRdd` returns a
    * fresh projection RDD *derived* from it, whose `getCheckpointFile`
    * is always None (so deleting via toRdd would silently never fire). */
  def dropCheckpoint(df: DataFrame): Unit =
    try {
      val files = df.queryExecution.analyzed.collect {
        case lr: LogicalRDD => lr.rdd.getCheckpointFile
      }.flatten
      files.foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(path, true): Unit
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  private def leaf(df: DataFrame): Option[LogicalRDD] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr)
      case _ => None
    }
}
