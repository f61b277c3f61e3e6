package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.storage.StorageLevel

/** Lifecycle of the checkpointed intermediates the iterative loops
  * pin.
  *
  * A `localCheckpoint` pins its blocks in the executor block manager
  * and truncates lineage; nothing releases those blocks until the
  * driver GC happens to collect the RDD reference and the
  * ContextCleaner notices. In a long-lived session (a notebook, a
  * pipeline app, the driver's single-JVM 172-query bench sweep) every
  * re-invocation of an operator that checkpoints adds a new block set
  * while the old ones linger — observed as late-suite memory pressure
  * evicting ACTIVE checkpoints, whose consumers then replay the whole
  * materialized subtree (the round-10 q154 regression: its
  * fingerprint table's pre-materialization cost reappeared mid-sweep).
  *
  * The loop rules:
  *  - [[pin]] persists an RDD and truncates its lineage (local, or
  *    reliable into the directory [[bindCheckpointDir]] bound). Its
  *    first action must be a FULL scan: a partial action leaves
  *    partitions that the truncated lineage cannot recompute.
  *  - An operator releases a pinned intermediate once its successor
  *    has materialized, and everything it pinned before returning —
  *    except what its RETURNED frame reads (an inverted index, a
  *    label table). The caller frees that with [[release]] once every
  *    consumer has executed.
  *  - [[scoped]] / [[releaseAll]] are the session-level bulk release
  *    for drivers of many independent queries (Bench, Verify, any
  *    REPL loop): `scoped` snapshots the persisted-RDD set, runs the
  *    body, and releases everything the body added; blocks that
  *    existed before (a shared dimension cache) survive.
  */
object Materialize {

  /** Ids of the persisted RDDs the driver still references: an
    * undercount, as `getPersistentRDDs` holds RDDs weakly and a pin the
    * GC dropped goes unlisted (an exact count is ROADMAP item 5a).
    */
  def liveIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Release every persisted/checkpointed RDD except `keep`.
    * Non-blocking: removal proceeds asynchronously on the executors.
    */
  def releaseAll(spark: SparkSession, keep: Set[Int] = Set.empty): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) { rdd.unpersist(blocking = false); () }
    }

  /** Run `body`, then release every RDD it left persisted — the
    * per-query hygiene wrapper for long-lived sessions running many
    * independent queries. Pre-existing persisted RDDs survive.
    */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val before = liveIds(spark)
    try body finally releaseAll(spark, before)
  }

  /** The RDD a frame's plan reads its rows from: the `LogicalRDD` a
    * `localCheckpoint` leaves behind, or the `ExternalRDD` of a frame
    * built from an RDD (`rdd.toDF`).
    */
  def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd
      case er: ExternalRDD[_] => er.rdd
    }

  /** Release one checkpointed or RDD-backed frame's blocks (no-op for
    * plans that read no such RDD, or one that is not persisted). Only
    * call once every consumer of the frame has EXECUTED — the
    * truncated lineage cannot recompute it.
    */
  def release(df: DataFrame): Unit =
    checkpointRdd(df).foreach { rdd => rdd.unpersist(blocking = false); () }

  /** Persist `rdd` and truncate its lineage: `localCheckpoint` into
    * the executors' block managers, or — when `reliable` — the RDD
    * checkpoint into the directory [[bindCheckpointDir]] bound, which
    * survives executor loss (the dynamic-allocation posture). The
    * persist comes first so the reliable write reads the computed
    * blocks instead of recomputing the plan.
    */
  def pin[T](rdd: RDD[T], reliable: Boolean = false): RDD[T] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    if (reliable) rdd.checkpoint() else rdd.localCheckpoint()
    rdd
  }

  /** Bind the context's checkpoint directory to `dir` for reliable
    * checkpoints. The directory is a GLOBAL SparkContext setting, so
    * it is set only when unset; a caller asking for a DIFFERENT
    * directory on the same context would otherwise race (last writer
    * wins) and two jobs would silently share one directory. That
    * conflict is an error, not a silent rebind.
    */
  def bindCheckpointDir(sc: SparkContext, dir: String): Unit = {
    val want = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    sc.getCheckpointDir match {
      case None => sc.setCheckpointDir(dir)
      case Some(cur) =>
        // setCheckpointDir appends a random UUID subdir; compare on
        // the requested prefix
        val curPath = new org.apache.hadoop.fs.Path(cur).toUri.getPath
        require(curPath.startsWith(want),
          s"SparkContext checkpoint dir already set to $cur; refusing to " +
            s"rebind it to $dir mid-flight (global setting — set it once per " +
            "application, or pass checkpointDir=None for localCheckpoint)")
    }
  }
}
