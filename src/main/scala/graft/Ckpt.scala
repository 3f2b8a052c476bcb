package graft

import org.apache.spark.sql.DataFrame

/** Checkpoint-block hygiene shared by the iterative-MV kernels and the
  * gate queries: a `localCheckpoint(true)` frame's blocks live on its
  * LogicalRDD, so `Dataset.unpersist` alone would be a no-op — freeing
  * means unpersisting THAT RDD. Iterative maintenance (CDC MV loops,
  * banded self-joins) supersedes a checkpointed state every round;
  * without in-loop freeing a bench pass pins every superseded
  * generation until JVM exit and wall time becomes hostage to
  * block-manager pressure (the r13 ±2.24× same-code bench swing).
  *
  * Only free a frame once EVERY consumer has materialized — a
  * truncated-lineage checkpoint cannot be recomputed.
  */
object Ckpt {

  /** Free a consumed localCheckpoint's blocks — `df` itself or a
    * projection or filter of one, like the states of an MV step, which
    * share their fold's checkpoint (no-op-safe on non-checkpointed
    * frames). */
  def free(df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    def base(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => base(c)
      case Filter(_, c) => base(c)
      case other => other
    }
    base(df.queryExecution.analyzed) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => df.unpersist(false)
    }
  }
}
