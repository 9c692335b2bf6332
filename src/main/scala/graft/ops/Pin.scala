package graft.ops

import org.apache.spark.sql.DataFrame

/** Eager lineage-truncating materialization for frames that are reused
  * by several downstream subtrees (banded LSH tables, candidate pair
  * lists, k-means assignments).
  *
  * `localCheckpoint` is the local-mode implementation: eager, no disk
  * round-trip — but its blocks are UNREPLICATED executor state, so on a
  * real cluster an executor loss (or dynamic deallocation) makes the
  * frame unrecoverable. When the session has a reliable checkpoint
  * directory configured (`sc.setCheckpointDir`, the cluster-deployment
  * contract), pin through the fault-tolerant `checkpoint()` instead.
  *
  * Checkpoint-file lifecycle (cluster-deployment contract): Spark does
  * NOT delete reliable-checkpoint files by default
  * (`spark.cleaner.referenceTracking.cleanCheckpoints` defaults to
  * false), so a long-lived session that pins repeatedly accumulates
  * checkpoint-dir storage without bound. Deployments that set a
  * checkpoint dir MUST either (a) set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so the
  * ContextCleaner removes files when the checkpointed RDD is GC'd, or
  * (b) point `setCheckpointDir` at a per-job scratch path and delete it
  * when the job ends. Local mode (`localCheckpoint`) is unaffected —
  * its blocks die with the executors.
  */
object Pin {

  def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // checkpoint() without a prior persist runs the subtree TWICE
      // (once for the eager count, once when the reliable-checkpoint
      // write job re-computes partitions) — cache around it.
      val cached = df.persist()
      try cached.checkpoint()
      finally cached.unpersist()
    } else df.localCheckpoint()
}
