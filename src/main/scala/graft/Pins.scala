package graft

import org.apache.spark.sql.DataFrame

/** Lifetime of the local checkpoints that iterative ops pin. */
private[graft] object Pins {

  /** Free a local checkpoint's blocks, eager or lazy. `Dataset.unpersist`
    * only drops cache-manager entries, so on a checkpoint it frees nothing:
    * the blocks belong to the RDD under the checkpointed frame's
    * `LogicalRDD`.
    */
  def release(checkpoint: DataFrame): Unit =
    checkpoint.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case p => throw new IllegalArgumentException(s"not a local checkpoint: ${p.nodeName}")
    }
}
