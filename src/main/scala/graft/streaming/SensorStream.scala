package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
    * `<store>._staging_*` dir, so an upsert racing a compaction (or two
    * compactions) would delete the other writer's live staging
    * mid-publish. The lock BLOCKS rather than failing fast: both writers
    * are idempotent and crash-safe, so serializing them is always
    * correct, and a timer-driven compaction overlapping a micro-batch
    * trigger must not turn into a StreamingQueryException that kills the
    * query. Waiting is interruptible: a micro-batch thread parked here
    * still honors `StreamingQuery.stop()`'s interrupt instead of hanging
    * shutdown behind a long compaction and then running the upsert for a
    * query that is already stopped. No deadlock is possible (one lock,
    * never nested). All
    * supported writers run on the one driver JVM that owns the store, so
    * an in-process lock genuinely enforces the contract there; a second
    * PROCESS writing the same store is outside the contract and
    * undetectable offline (a connected deployment's MERGE sink brings
    * its own transaction layer). */
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
    * `sensor_group` (the Cassandra partition key). A micro-batch only
    * reads, merges, and rewrites the group partitions PRESENT IN THE
    * BATCH — cost per batch is O(|touched partitions|), not O(|store|),
    * so a long-running stream over a 100 TB store touches only the few
    * groups currently emitting. Untouched partition directories are never
    * opened or rewritten.
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
    // it once from memory, and a shuffle-free cached plan leaves AQE free
    // to coalesce the merge aggregation downstream (a cached shuffle's
    // partitioning is pinned by canChangeCachedPlanOutputPartitioning).
    // Batch-local last-write-wins happens INSIDE the single merge
    // aggregation below instead of as its own pre-pass. A batch the
    // caller already persisted (fanOutBatch's shared cache) is reused
    // as-is and must NOT be unpersisted out from under the other sinks.
    val callerCached = batch.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val incoming = if (callerCached) batch else batch.persist()
    try {
      // fail fast on null groups: they would land in the Hive default
      // partition, which the isin pruning below never reads back — a
      // silent PK-merge hole. (The stream pipeline filters them upstream;
      // this guards direct foreachBatch users.)
      val groups = incoming.select("sensor_group").distinct()
        .collect().map { r =>
          if (r.isNullAt(0)) throw new IllegalArgumentException(
            "upsertBatch: null sensor_group in batch — enrich/filter upstream first")
          r.getString(0)
        }.sorted.toSeq
      if (groups.nonEmpty) {
        val hasStore = storeRoot.exists() &&
          graft.core.Fs.listOrEmpty(storeRoot).exists(_.getName.startsWith("sensor_group="))
        // GROUP-ALIGNED merge exchange: the union is repartitioned by
        // sensor_group BEFORE the last-write-wins aggregate. Hash
        // partitioning on a SUBSET of the grouping keys satisfies the
        // aggregate's clustered distribution, so the PK group-by plans as
        // ONE complete hash aggregate over this exchange — same single
        // shuffle as before (the agg's own PK-hash exchange is gone,
        // and the planted ~10% duplicate fraction is all a map-side
        // partial could have combined), but the output is now aligned
        // with the store layout: each write task holds whole groups, so
        // a batch stages exactly ONE file per touched partition instead
        // of (reduce tasks × groups) cross-group slivers — the
        // compaction debt the store used to accumulate per batch. The
        // skew axis (a hot group serializes through one task) is the
        // same one the sensor_group directory layout already has.
        def groupAligned(df: DataFrame): DataFrame =
          df.repartition(col("sensor_group"))
        val merged =
          if (hasStore) {
            // partition pruning: the isin filter on the partition column
            // restricts the scan to the touched group directories only.
            // Explicit schema (= the batch's own storage schema) keeps
            // sensor_group STRING: inference would retype numeric-looking
            // group dirs (e.g. "01" → int 1) and re-publish them under a
            // different directory name than the live one.
            val store = spark.read.schema(incoming.schema).parquet(storePath)
              .filter(col("sensor_group").isin(groups: _*))
            val tagged = store.withColumn("_w", lit(0L))
              .unionByName(incoming.withColumn("_w", lit(1L)))
            // winner per PK = max (seq, arrival): seq order first (ADVICE:
            // out-of-seq cross-batch delivery), arrival breaks exact ties.
            // ONE aggregation resolves batch-local AND batch-vs-store
            // last-write-wins: within the batch `_w` is constant so the
            // max-seq row wins exactly as a separate batch pre-dedup would,
            // and one shuffle replaces the former two.
            SensorPipeline.dedupLastWins(
              groupAligned(tagged.withColumn("_ord", struct(col("seq"), col("_w")))),
              SensorPipeline.pkCols, "_ord")
              .drop("_w")
          } else SensorPipeline.dedupLastWins(
            groupAligned(incoming.withColumn("_ord", col("seq"))),
            SensorPipeline.pkCols, "_ord")

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
        staged.foreach(sp => swapIn(storeRoot, backupRoot, sp, sp.getName))
        graft.core.Fs.deleteRecursively(stagingRoot)
        if (backupRoot.exists()) backupRoot.delete()
      }
    } finally { if (!callerCached) incoming.unpersist() }
  }

  /** Crash recovery for the swap-published store, run by every writer
    * (upsert batches AND compaction) before touching it: a previous
    * invocation may have died between a partition's two swap renames,
    * leaving that partition only under the backup root — restore it
    * BEFORE reading. Backups of completed swaps are stale and dropped.
    * Stale staging dirs of ANY name under the `._staging_` prefix are
    * swept too: a checkpoint reset restarts batch numbering, so a
    * crashed run may have stranded staging under an id this query will
    * never reuse. */
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
                     staged: java.io.File, name: String): Unit = {
    val live = new java.io.File(storeRoot, name)
    val bak = new java.io.File(backupRoot, name)
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

  /** Bin-packing compaction for the upsert store. A long-running stream
    * leaves one file per batch per touched partition, so partition read
    * cost eventually becomes file-count-bound rather than byte-bound —
    * the classic small-files problem. A partition is rewritten into
    * `packed = ceil(bytes/targetBytes)` files when that actually shrinks
    * it: when it holds more than max(packed, maxFiles) files, or more
    * than packed files that together still fit one target file. A
    * partition already at its packed count is terminal even if packed >
    * maxFiles — so repeated runs are no-ops, publishing through the same
    * crash-safe stage-and-swap as upsertBatch (including its recovery
    * preamble). Safe to run between batches of the single writer that
    * owns the store; untouched partitions are never opened.
    *
    * Job shape: every partition that packs into ONE file (the common
    * case — small fragmented groups) is rewritten by a single Spark job
    * reading all of them at once (one task-set, not one job per
    * partition, so 10k fragmented groups don't mean 10k sequential
    * jobs); partitions needing multiple output files get an individual
    * coalesce(n) job each. Partition-column type inference is disabled
    * for the batched read so numeric-looking group names ("01") keep
    * their directory names, same as the upsert's explicit-schema read.
    *
    * Returns the names of the partitions rewritten. */
  def compactStore(spark: SparkSession, storePath: String,
                   targetBytes: Long = 128L << 20,
                   maxFiles: Int = 8): Seq[String] = withStoreLock(storePath) {
    val storeRoot = new java.io.File(storePath)
    val backupRoot = new java.io.File(storePath + "._old")
    // same recovery preamble as the upsert: compaction may be the first
    // writer to touch a store whose last writer crashed mid-swap, and it
    // must restore backed-up partitions before listing what to compact
    recoverStore(storeRoot, backupRoot)
    val parts = graft.core.Fs.listOrEmpty(storeRoot)
      .filter(f => f.isDirectory && f.getName.startsWith("sensor_group="))
    val todo = parts.flatMap { p =>
      val files = graft.core.Fs.listOrEmpty(p)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      val bytes = files.map(_.length).sum
      val packed = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      // rewrite only when packing actually reduces the file count below
      // what's there now — `packed` files is the floor for this partition,
      // so a partition already at its packed count is terminal (idempotent
      // even when packed > maxFiles)
      if (files.length > math.max(packed, maxFiles) ||
        (bytes <= targetBytes && files.length > packed))
        Some((p, packed)) else None
    }
    // staging under the upsert sweep's "._staging_" prefix, so a crashed
    // compaction is cleaned up by the next writer's recovery preamble
    def stagingFor(name: String) =
      new java.io.File(storePath + s"._staging_compact_$name")
    def publish(staging: java.io.File, name: String): Unit = {
      graft.core.Fs.listOrEmpty(staging)
        .filter(f => !f.getName.endsWith(".parquet"))
        .foreach(graft.core.Fs.deleteRecursively)
      swapIn(storeRoot, backupRoot, staging, name)
      if (backupRoot.exists()) backupRoot.delete()
    }

    val (multiFile, singleFile) = todo.partition(_._2 > 1)
    // one job for every pack-to-one-file partition: read them together
    // (basePath keeps sensor_group as a column), force one shuffle
    // partition per group, write one partitioned staging tree, swap each.
    // The read schema is pinned explicitly — payload schema from one
    // partition's files plus a STRING sensor_group — the same discipline
    // as the upsert's read: no partition-type inference, so
    // numeric-looking group names keep their directory names, and no
    // session-global conf is touched while other queries may be planning.
    var leftover = Seq.empty[(java.io.File, Int)]
    if (singleFile.nonEmpty) {
      val batchStaging = new java.io.File(storePath + "._staging_compact_batch")
      graft.core.Fs.deleteRecursively(batchStaging)
      // the batched read pins one payload schema for every partition it
      // covers, which would silently null/drop columns in partitions
      // whose files evolved past the sampled one — so a partition enters
      // the batched arm only when EVERY ONE of its files carries the
      // sampled footer schema (within-partition evolution from an
      // append-ingested store must not slip through on a first-file
      // sample); everything else routes to the per-partition mergeSchema
      // arm below. Divergence detection reads raw parquet footers
      // (MessageType equality, ~1 ms each) on a bounded thread pool
      // instead of a DataFrameReader resolution per partition, so the
      // driver pass stays cheap at the 10k-fragmented-partition scale
      // this arm exists for.
      val hadoopConf = spark.sessionState.newHadoopConf()
      def footerSchema(file: java.io.File): org.apache.parquet.schema.MessageType = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.getPath), hadoopConf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getFileMetaData.getSchema finally r.close()
      }
      def parquets(dir: java.io.File): Seq[java.io.File] =
        graft.core.Fs.listOrThrow(dir)
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
      val sampleFile = parquets(singleFile.head._1).head
      val sampleFooter = footerSchema(sampleFile)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, Runtime.getRuntime.availableProcessors()))
      val (batchable, diverged) =
        try {
          val checks = singleFile.map { case entry @ (p, _) =>
            entry -> pool.submit(new java.util.concurrent.Callable[Boolean] {
              override def call(): Boolean =
                parquets(p).forall(f => footerSchema(f) == sampleFooter)
            })
          }
          checks.partition(_._2.get()) match {
            case (ok, bad) => (ok.map(_._1), bad.map(_._1))
          }
        } finally pool.shutdown()
      // pin the Spark schema from the exact file whose footer was
      // sampled — reading the partition DIR could resolve from a
      // different file than minBy when the sample partition is mixed
      val schema = spark.read.parquet(sampleFile.getPath).schema
        .add("sensor_group", org.apache.spark.sql.types.StringType)
      spark.read.schema(schema).option("basePath", storePath)
        .parquet(batchable.map(_._1.getPath): _*)
        .repartition(org.apache.spark.sql.functions.col("sensor_group"))
        .write.mode("overwrite").partitionBy("sensor_group")
        .parquet(batchStaging.getPath)
      // a group whose files hold zero rows produces no staged dir in a
      // partitioned write — route it through the per-partition arm below
      // (a 0-row parquet file is its terminal layout) instead of aborting
      val (found, missing) = batchable.partition { case (p, _) =>
        new java.io.File(batchStaging, p.getName).exists() }
      found.foreach { case (p, _) =>
        publish(new java.io.File(batchStaging, p.getName), p.getName) }
      graft.core.Fs.deleteRecursively(batchStaging)
      leftover = (missing ++ diverged).map { case (p, _) => (p, 1) }.toSeq
    }
    (multiFile ++ leftover).foreach { case (p, n) =>
      val staging = stagingFor(p.getName)
      graft.core.Fs.deleteRecursively(staging)
      // mergeSchema: within-partition schema evolution (append-ingested
      // stores) must union columns, not sample one file's schema
      spark.read.option("mergeSchema", "true").parquet(p.getPath).coalesce(n)
        .write.mode("overwrite").parquet(staging.getPath)
      publish(staging, p.getName)
    }
    todo.map(_._1.getName).toSeq
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
