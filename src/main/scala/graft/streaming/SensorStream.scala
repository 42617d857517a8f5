package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.SensorPipeline

/** Structured Streaming face of the SIMPSS pipeline (SURVEY.md §7.1 step 4).
  *
  * The batch stages (parseStrict → enrich → renameToStorage) are reused
  * verbatim on the streaming DataFrame — they are all narrow (the parse is
  * a projection plus a generator, the dimension probe a per-row map lookup
  * built once when the query is defined), so the incremental planner
  * accepts them unchanged and no micro-batch plans a join or a broadcast
  * exchange. The PK upsert (Cassandra's INSERT semantics in the
  * reference, cassandra_storage.py:88) becomes an idempotent foreachBatch
  * merge: batch-local last-write-wins, then last-write-wins against the
  * store. Re-running a batch (checkpoint replay) converges to the same
  * store state, giving end-to-end exactly-once — strictly stronger than
  * the reference's auto-commit at-least-once (SURVEY.md §4.3).
  */
object SensorStream {

  /** Per-store writer locks enforcing the documented single-writer
    * contract at runtime: the recovery preamble sweeps EVERY sibling
    * `<store>._staging_*` dir, so two upserts racing on one store would
    * delete each other's live staging mid-publish, and whichever swaps
    * last would drop the other's update, which its merge never read. The
    * lock BLOCKS rather than failing fast: upserts are idempotent and
    * crash-safe, so serializing them is always correct, and a second
    * writer overlapping a micro-batch trigger must not turn into a
    * StreamingQueryException that kills the query. Waiting is
    * interruptible: a micro-batch thread parked here still honors
    * `StreamingQuery.stop()`'s interrupt instead of hanging shutdown
    * behind another writer's batch and then running the upsert for a
    * query that is already stopped. No deadlock is possible (one lock,
    * never nested). All supported writers run on the one driver JVM that
    * owns the store, so an in-process lock genuinely enforces the
    * contract there; a second PROCESS writing the same store is outside
    * the contract and undetectable offline (a connected deployment's
    * MERGE sink brings its own transaction layer). */
  private val storeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  private[graft] def storeLock(storePath: String): java.util.concurrent.locks.ReentrantLock =
    storeLocks.computeIfAbsent(
      // canonical, not absolute: two spellings of one store ("/s/x" vs
      // "/s/./x", or via a symlink) must map to ONE lock, or the recovery
      // preamble of one writer can sweep the other's live staging dir —
      // the exact race the lock exists to prevent. Canonicalization can
      // only fail on I/O error; fall back to the normalized absolute path.
      try new java.io.File(storePath).getCanonicalPath
      catch { case _: java.io.IOException =>
        new java.io.File(storePath).toPath.toAbsolutePath.normalize.toString },
      _ => new java.util.concurrent.locks.ReentrantLock())

  private def withStoreLock[A](storePath: String)(body: => A): A = {
    val lock = storeLock(storePath)
    lock.lockInterruptibly()
    try body finally lock.unlock()
  }

  /** Wire transform shared by every sensor source: JSON lines → clean,
    * enriched, storage-named records (dead letters dropped). */
  def transform(lines: DataFrame, dim: DataFrame): DataFrame = {
    val (clean, _) = SensorPipeline.quarantine(SensorPipeline.parseStrict(lines))
    SensorPipeline.renameToStorage(SensorPipeline.enrich(clean, dim, failFast = false))
  }

  /** Idempotent keyed upsert into a `sensor_group`-partitioned parquet
    * store, for use with `writeStream.foreachBatch`. In a connected
    * deployment this is the Cassandra/Delta MERGE; offline it is a
    * partition-pruned read-merge-swap, correct for the single-writer
    * streaming query that owns the store.
    *
    * Scale shape (the Cassandra-partition analogy, reference PK at
    * link_kafka_cassandra.py:45): the store is laid out one directory per
    * `sensor_group` (the Cassandra partition key). A micro-batch reads,
    * merges and rewrites only the group partitions PRESENT IN THE BATCH;
    * untouched partition directories are never opened or rewritten. Each
    * touched group is rewritten IN FULL, so a call costs O(batch + the
    * touched groups' stored rows): when every group emits in every batch
    * (perfbench's traffic: 4 groups, one of them hot) that is the whole
    * store each batch, and a stream's total cost grows with the square of
    * its length.
    *
    * Versioning: the store persists `seq` (max seen per PK) as a version
    * column, and the merge tie-breaks on (seq, arrival). Cross-batch
    * out-of-seq delivery (e.g. multi-partition Kafka) therefore still
    * converges to the max-seq row, matching the batch pipeline.
    *
    * Crash safety: the merge output is staged outside the store, then
    * published per partition via backup-rename swap (old dir moved to
    * backup, staged dir renamed in, backup dropped). A crash at any point
    * leaves every partition recoverable from either the live dir or its
    * backup; the recovery preamble below restores stranded backups, and
    * checkpoint replay of the batch re-converges idempotently.
    */
  def upsertBatch(spark: SparkSession, storePath: String)(batch: DataFrame, batchId: Long): Unit = withStoreLock(storePath) {
    val storeRoot = new java.io.File(storePath)
    val backupRoot = new java.io.File(storePath + "._old")
    val stagingRoot = new java.io.File(storePath + s"._staging_$batchId")

    recoverStore(storeRoot, backupRoot)

    // Cache the batch AS DELIVERED (the narrow parse→enrich→rename
    // pipeline): both passes below — group listing and the merge — read
    // it once from memory. Batch-local last-write-wins happens INSIDE the
    // single merge aggregation below instead of as its own pre-pass. A
    // batch the caller already persisted (fanOutBatch's shared cache) is
    // reused as-is and must NOT be unpersisted out from under the other
    // sinks.
    val callerCached = batch.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val incoming = if (callerCached) batch else batch.persist()
    try {
      // fail fast on null groups: they would land in the Hive default
      // partition, which the touched-directory read below never reads
      // back — a silent PK-merge hole. (The stream pipeline filters them
      // upstream; this guards direct foreachBatch users.)
      val groups = touchedGroups(incoming).map(_.getOrElse(throw new IllegalArgumentException(
        "upsertBatch: null sensor_group in batch — enrich/filter upstream first")))
        .toSeq.sorted
      if (groups.nonEmpty) {
        // GROUP-ALIGNED merge exchange: each touched group goes to one
        // slot, its index in the sorted touched list modulo the slot
        // count, and `repartitionById` sends slot i to reduce partition i.
        // The slot leads the last-write-wins grouping keys, so the
        // pass-through partitioning satisfies the aggregate's clustered
        // distribution and the PK group-by plans over this ONE exchange.
        // Each write task then holds whole groups and stages exactly ONE
        // file per touched partition. Hash partitioning on sensor_group
        // gives the same alignment but serializes the merge: hashes of
        // few group names collide (g1, g3 and g4 share one partition at
        // 4 and at 8 partitions), and AQE coalesces the small shuffle into
        // the partitions that hold data, so the merge-and-write runs as
        // one task while the other cores idle. The slot count is explicit,
        // which AQE does not coalesce, so distinct touched groups land in
        // distinct tasks up to the shuffle partition count. The skew left
        // (a hot group is one task) is the one the sensor_group directory
        // layout already has.
        val slots = math.min(groups.size, spark.conf.get("spark.sql.shuffle.partitions").toInt)
        val slotOf = typedLit(groups.zipWithIndex.map { case (g, i) => g -> i % slots }.toMap)
        def groupAlignedLastWins(df: DataFrame): DataFrame =
          SensorPipeline.dedupLastWins(
            df.withColumn("_slot", element_at(slotOf, col("sensor_group")))
              .repartitionById(slots, col("_slot")),
            "_slot" +: SensorPipeline.pkCols, "_ord")
            .drop("_slot")
        // only the touched group directories are listed and read: the
        // store root is never listed, so the cost does not grow with the
        // number of groups in the store (past 32 directories Spark lists
        // a root with a distributed job)
        val touchedDirs = groups
          .map(g => new java.io.File(storeRoot,
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .getPartitionPathString("sensor_group", g)))
          .filter(_.isDirectory)
        val merged =
          if (touchedDirs.nonEmpty) {
            // basePath keeps sensor_group a partition column of the read.
            // Explicit schema (= the batch's own storage schema) keeps it
            // STRING: inference would retype numeric-looking group dirs
            // (e.g. "01" → int 1) and re-publish them under a different
            // directory name than the live one.
            val store = spark.read.schema(incoming.schema).option("basePath", storePath)
              .parquet(touchedDirs.map(_.getPath): _*)
            val tagged = store.withColumn("_w", lit(0L))
              .unionByName(incoming.withColumn("_w", lit(1L)))
            // winner per PK = max (seq, arrival): seq order first (ADVICE:
            // out-of-seq cross-batch delivery), arrival breaks exact ties.
            // ONE aggregation resolves batch-local AND batch-vs-store
            // last-write-wins: within the batch `_w` is constant so the
            // max-seq row wins exactly as a separate batch pre-dedup would,
            // and one shuffle replaces the former two.
            groupAlignedLastWins(tagged.withColumn("_ord", struct(col("seq"), col("_w")))).drop("_w")
          } else groupAlignedLastWins(incoming.withColumn("_ord", col("seq")))

        // ONE distributed job writes all touched partitions into staging;
        // the publish below is driver-side metadata renames only. The
        // pre-sort satisfies FileFormatWriter's required ordering on the
        // partition column (it would otherwise insert its own sort) AND
        // clusters rows by (sensor_id, time_received) inside each file —
        // the batch pipeline's writePartitioned layout, now on the
        // streaming store too.
        merged
          .sortWithinPartitions("sensor_group", "sensor_id", "time_received")
          .write.mode("overwrite").partitionBy("sensor_group")
          .parquet(stagingRoot.getPath)

        storeRoot.mkdirs()
        val staged = graft.core.Fs.listOrThrow(stagingRoot)
          .filter(f => f.isDirectory && f.getName.startsWith("sensor_group="))
        staged.foreach(swapIn(storeRoot, backupRoot, _))
        graft.core.Fs.deleteRecursively(stagingRoot)
        if (backupRoot.exists()) backupRoot.delete()
      }
    } finally { if (!callerCached) incoming.unpersist() }
  }

  /** The batch's distinct `sensor_group` values (None for a null), listed
    * by ONE shuffle-free job: each partition returns its own distinct
    * set and the driver unions them. */
  private def touchedGroups(batch: DataFrame): Set[Option[String]] =
    batch.select("sensor_group").rdd
      .mapPartitions(rows => Iterator(rows.map(r => Option(r.getString(0))).toSet))
      .collect().foldLeft(Set.empty[Option[String]])(_ ++ _)

  /** Crash recovery for the swap-published store, run by every upsert
    * batch before touching it: a previous invocation may have died
    * between a partition's two swap renames, leaving that partition only
    * under the backup root — restore it BEFORE reading. Backups of
    * completed swaps are stale and dropped. Stale staging dirs of ANY
    * name under the `._staging_` prefix are swept too: a checkpoint reset
    * restarts batch numbering, so a crashed run may have stranded staging
    * under an id this query will never reuse. */
  private def recoverStore(storeRoot: java.io.File,
                           backupRoot: java.io.File): Unit = {
    if (backupRoot.exists()) {
      graft.core.Fs.listOrThrow(backupRoot).foreach { bak =>
        val live = new java.io.File(storeRoot, bak.getName)
        if (!live.exists()) {
          storeRoot.mkdirs()
          if (!bak.renameTo(live))
            throw new java.io.IOException(s"store recovery: cannot restore $bak")
        } else graft.core.Fs.deleteRecursively(bak)
      }
      backupRoot.delete()
    }
    val stagingPrefix = storeRoot.getName + "._staging_"
    graft.core.Fs.listOrEmpty(storeRoot.getAbsoluteFile.getParentFile)
      .filter(_.getName.startsWith(stagingPrefix))
      .foreach(graft.core.Fs.deleteRecursively)
  }

  /** Publish a staged partition dir via backup-rename swap: live moved to
    * backup, staged renamed in, backup dropped. Crash at any point leaves
    * the partition recoverable (live or backup), which the recovery
    * preamble restores. */
  private def swapIn(storeRoot: java.io.File, backupRoot: java.io.File,
                     staged: java.io.File): Unit = {
    val live = new java.io.File(storeRoot, staged.getName)
    val bak = new java.io.File(backupRoot, staged.getName)
    backupRoot.mkdirs()
    graft.core.Fs.deleteRecursively(bak)
    if (live.exists() && !live.renameTo(bak))
      throw new java.io.IOException(s"store publish: cannot move $live aside")
    if (!staged.renameTo(live)) {
      bak.renameTo(live) // roll back this partition
      throw new java.io.IOException(s"store publish: cannot publish $staged to $live")
    }
    graft.core.Fs.deleteRecursively(bak)
  }

  /** Pub/sub fan-out (reference R14: one consumed message → every
    * registered subscriber): one foreachBatch delivering the SAME batch
    * to N sinks. The batch is cached so each subscriber reads it once. */
  def fanOutBatch(sinks: Seq[(DataFrame, Long) => Unit])(batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try sinks.foreach(s => s(batch, batchId))
    finally batch.unpersist()
  }

  /** Metrics counters (reference R22 — the vestigial messages_read/sent
    * counters, done properly): a StreamingQueryListener accumulating
    * rows processed per query. */
  class CountingListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val rowsByQuery = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      // name is null for queries started without queryName() — fall back
      // to the stable query id so unnamed queries still accumulate.
      val key = Option(e.progress.name).getOrElse(e.progress.id.toString)
      rowsByQuery.merge(key, e.progress.numInputRows, _ + _)
    }
  }

  /** Tumbling-window aggregate over the sensor stream (batch-equivalent
    * form is Relational.q19 over events; this one keys on time_received). */
  def tumblingStats(records: DataFrame, width: String): DataFrame =
    records
      .groupBy(window(col("time_received"), width), col("sensor_group"))
      .agg(count(lit(1)).as("n"), avg(col("temperature")).as("avg_temp"))
      .select(col("window.start").as("window_start"), col("sensor_group"),
        col("n"), col("avg_temp"))
}
