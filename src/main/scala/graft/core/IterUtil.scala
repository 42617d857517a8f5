package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared machinery for iterative fixpoint operators (connected
  * components, PageRank): per-round lineage cuts so the plan stays
  * constant-size across iterations, prompt freeing of the previous
  * round's blocks, pinned static frames released by their loop, and
  * idempotent reliable-checkpoint-dir setup for
  * multi-executor durability (see the durability discussion on
  * [[graft.operators.Dedup.connectedComponents]]).
  */
object IterUtil {

  /** Set the session checkpoint dir to `dir` if not already pointing
    * there. getCheckpointDir returns the qualified dir plus a per-set
    * random UUID subdir, so equality with `dir` never holds — the
    * idempotence test is "the current dir's PARENT is the qualified
    * requested dir" (substring matching would treat "/data/cc-1" as
    * already set while "/data/cc-12/<uuid>" is current, silently landing
    * checkpoints in the wrong directory). Without the test every
    * invocation would re-set the session-global dir and mint an orphan
    * UUID directory. */
  def ensureCheckpointDir(spark: SparkSession, dir: Option[String]): Unit =
    dir.foreach { d =>
      val sc = spark.sparkContext
      val requested = new org.apache.hadoop.fs.Path(d)
      val qualified = requested.getFileSystem(sc.hadoopConfiguration)
        .makeQualified(requested)
      val alreadySet = sc.getCheckpointDir.exists(cur =>
        Option(new org.apache.hadoop.fs.Path(cur).getParent).contains(qualified))
      if (!alreadySet) sc.setCheckpointDir(d)
    }

  /** Eager lineage cut: reliable `checkpoint()` when the caller set up a
    * checkpoint dir (survives executor loss), executor-local
    * `localCheckpoint()` otherwise (right for tests and local mode). */
  def cut(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint() else df.localCheckpoint()

  /** LAZY lineage cut: same block persistence + lineage truncation as
    * [[cut]], but materialized by the caller's NEXT action instead of an
    * extra count job here. Lets an iterative loop fold its convergence
    * aggregate and its round materialization into ONE round computation
    * (the agg action computes the round, persists its blocks, and
    * returns the convergence scalar).
    *
    * The reliable path needs an explicit persist: `checkpoint(eager =
    * false)` only MARKS the internal RDD, and the checkpoint-file write
    * (doCheckpoint, at the end of the caller's first action) otherwise
    * RE-EXECUTES the whole round plan — a second full computation per
    * round, whose agreement with the agg the loop already consumed
    * silently relies on plan determinism. Persisting the marked RDD
    * first makes the write a cache read: still two Spark jobs on this
    * path (agg + checkpoint write), but one computation, and the write
    * is byte-identical to what the agg saw. [[free]] later unpersists
    * these blocks; the checkpoint files then carry the durability.
    *
    * Caller contract: run an action on the returned frame BEFORE
    * freeing anything the round's plan still reads. */
  def cutLazy(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) {
      val ds = df.checkpoint(eager = false)
      ds.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        case _ => ()
      }
      ds
    } else df.localCheckpoint(eager = false)

  /** Free a cut round's blocks. Both checkpoint flavors are eager, so
    * once the NEXT round is cut it no longer reads its predecessor's
    * blocks — safe to unpersist. Must be handed the checkpointed handle
    * itself: anything else (a projection over it, a persisted Dataset)
    * does not expose the LogicalRDD, and is rejected rather than
    * silently left alive. */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
    case other => throw new IllegalArgumentException(
      s"IterUtil.free: not a checkpoint handle (${other.nodeName})")
  }

  /** Pin a static frame that an iterative loop reads every round: a
    * plain persist, whose InMemoryRelation keeps the frame's explicit
    * partitioning visible to the planner (a lineage cut's ExistingRDD
    * reports Unknown partitioning under AQE, so every round would
    * re-shuffle it), or a reliable [[cut]] when durability was asked
    * for. The caller releases it with [[unpin]] in a `finally` once its
    * last action has run. */
  def pin(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) cut(df, reliable = true) else df.persist()

  /** Release a frame [[pin]] returned. */
  def unpin(df: DataFrame, reliable: Boolean): Unit =
    if (reliable) free(df) else df.unpersist()
}
