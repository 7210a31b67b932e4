package graft.tables

import org.apache.spark.sql.DataFrame

/** Lineage-truncation helper shared by every stage that eagerly materializes
  * a small intermediate (connected-components iterations, dedup's pending
  * table, in-memory ingest's entity/remap/topic tables).
  *
  * `localCheckpoint` truncates lineage to executor-local blocks: on a real
  * cluster, losing an executor makes the data unrecoverable (no lineage left
  * to recompute) — a documented Spark caveat. So when the session has a
  * RELIABLE checkpoint dir configured (`sparkContext.setCheckpointDir`), use
  * `df.checkpoint()` (survives executor loss); fall back to `localCheckpoint`
  * only in single-JVM local mode where executor loss is process death anyway.
  */
object Checkpoints {

  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // persist BEFORE checkpoint: an unpersisted df.checkpoint() runs the
      // plan twice (once for the eager action, once when
      // ReliableRDDCheckpointData re-computes to write the files — the
      // documented Spark caveat), doubling every truncated stage's cost.
      // A df that is already cached (by its caller, or a plan the cache
      // manager matches to it) is read from that cache, which stays in place.
      val cached = df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
      if (!cached) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try df.checkpoint()
      finally if (!cached) df.unpersist()
    } else df.localCheckpoint()

  /** Truncate SEVERAL mutually-independent small intermediates in ONE job:
    * each is marked for local checkpoint lazily, then a single union action
    * computes them all. N eager `truncate` calls cost N sequential driver
    * job rounds — at the in-memory pipeline's scale those rounds are pure
    * fixed cost (the tables are KB-sized), and within the one job Spark also
    * reuses any shuffle stages the inputs share (entities/remap both hang
    * off the dedup subtree). Reliable-checkpoint sessions keep per-df eager
    * checkpoints: each is a distributed file write with its own commit.
    */
  def truncateAll(dfs: DataFrame*): Seq[DataFrame] = dfs.toList match {
    case Nil => Nil
    case one :: Nil => Seq(truncate(one))
    case many =>
      val sc = many.head.sparkSession.sparkContext
      if (sc.getCheckpointDir.isDefined) many.map(truncate)
      else {
        val marked = many.map(_.localCheckpoint(eager = false))
        // one action materializes every marked checkpoint; the internal rows
        // are discarded, not copied
        sc.union(marked.map(_.queryExecution.toRdd.map(_ => ()))).count()
        marked
      }
  }
}
