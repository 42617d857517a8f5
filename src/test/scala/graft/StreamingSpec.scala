package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.pipeline.SensorPipeline
import graft.streaming.SensorStream

/** Streaming/batch equivalence — the faithful replacement for the
  * reference's manual cqlsh verification (SURVEY.md §5.2 item 4): the
  * same records replayed through the streaming pipeline must produce the
  * byte-identical table the batch pipeline produces.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ndjsonLines: Seq[String] =
    scala.io.Source.fromFile(Fixtures.sensorNdjson).getLines().toSeq

  test("streaming upsert over MemoryStream equals batch pipeline (Q20)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val store = tempDir("upsert").toString + "/store"
    val dim = SensorPipeline.loadDim(spark, Fixtures.sensorDim)
    val transformed = SensorStream.transform(stream.toDF(), dim)
    val q = transformed.writeStream
      .outputMode("append")
      .foreachBatch(SensorStream.upsertBatch(spark, store) _)
      .start()
    // replay the fixture in 3 micro-batches (out-of-order arrival within
    // each batch, ordered delivery across batches — Kafka-like)
    val lines = ndjsonLines
    val third = (lines.length + 2) / 3
    lines.grouped(third).foreach { chunk =>
      stream.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()

    // the store persists `seq` as its version column — drop it for the
    // comparison against the batch pipeline's public output
    val streamed = spark.read.parquet(store).drop("seq")
      .orderBy("sensor_group", "sensor_id", "time_received")
    val batch = SensorPipeline.run(spark, Fixtures.sensorNdjson, Fixtures.sensorDim)
    assert(streamed.columns.sorted.sameElements(batch.columns.sorted))
    val a = streamed.select(batch.columns.map(col): _*).collect().toSeq
    val b = batch.collect().toSeq
    assert(a == b)
  }

  test("re-running a batch converges (idempotent upsert)") {
    val store = tempDir("upsert2").toString + "/store"
    val dim = SensorPipeline.loadDim(spark, Fixtures.sensorDim)
    val lines = spark.read.text(Fixtures.sensorNdjson)
    val batch = SensorStream.transform(lines, dim)
    SensorStream.upsertBatch(spark, store)(batch, 0L)
    val first = spark.read.parquet(store).collect().toSet
    SensorStream.upsertBatch(spark, store)(batch, 0L) // replay same batch
    val second = spark.read.parquet(store).collect().toSet
    assert(first == second)
  }

  test("Q19 streaming form over replayed events equals the batch form") {
    // SURVEY §2.C: "the streaming form of Q19 replayed through the ingest
    // pipeline must equal the batch form" — literally, on the events table.
    implicit val sqlCtx = spark.sqlContext
    case class Ev(event_id: Long, ts: java.sql.Timestamp, event_type: String, value: Double)
    val evs = graft.core.Tables.load(spark, sf("sf0.001"), "events")
      .select($"event_id", $"ts", $"event_type", $"value")
      .as[(Long, java.sql.Timestamp, String, Double)].collect().toSeq

    val stream = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val df = stream.toDF().toDF("event_id", "ts", "event_type", "value")
    val agg = df.groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(graft.core.Determinism.Dec)).cast("double").as("sum_value"))
      .select($"window.start".as("window_start"), $"event_type", $"n", $"sum_value")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("q19_stream").start()
    evs.grouped(300).foreach { chunk => stream.addData(chunk); q.processAllAvailable() }
    q.stop()

    val streamed = spark.table("q19_stream")
      .orderBy($"window_start", $"event_type").collect().toSeq
    val batch = SparkEntry.queries("q19_tumbling_window")(spark, sf("sf0.001"))
      .collect().toSeq
    assert(streamed == batch)
  }

  test("checkpointed file source survives restart without loss or dupes") {
    // exactly-once claim (SURVEY §4.3): checkpointed offsets + idempotent
    // upsert. Run over files, stop, add a file, restart with the SAME
    // checkpoint — the store must equal the batch pipeline over all files.
    val base = tempDir("ckpt").toString
    val inDir = s"$base/in"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    new java.io.File(inDir).mkdirs()
    val lines = ndjsonLines
    val (part1, part2) = lines.splitAt(lines.length / 2)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/a.ndjson"),
      part1.mkString("\n").getBytes)

    val dim = SensorPipeline.loadDim(spark, Fixtures.sensorDim)
    def startQuery() = SensorStream
      .transform(graft.sources.SensorSources.fromNdjsonDir(spark, inDir), dim)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch(SensorStream.upsertBatch(spark, store) _)
      .start()

    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    val afterFirst = spark.read.parquet(store).count()
    assert(afterFirst > 0)

    java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/b.ndjson"),
      part2.mkString("\n").getBytes)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()

    val streamed = spark.read.parquet(store)
      .orderBy("sensor_group", "sensor_id", "time_received")
    val batch = SensorPipeline.run(spark, Fixtures.sensorNdjson, Fixtures.sensorDim)
    assert(streamed.count() == batch.count(), "restart lost or duplicated rows")
    assert(streamed.select(batch.columns.map(col): _*).collect().toSeq ==
      batch.collect().toSeq)
  }

  // -- partition-pruned upsert: hand-crafted storage-shaped batches --------
  private val storageCols = Seq("sensor_group", "time_received", "sensor_id",
    "uptime", "temperature", "pressure", "humidity", "ix", "iy", "iz", "mask", "seq")
  private def rec(group: String, id: Int, ts: String, seqNo: Long, temp: Int = 20) =
    (group, java.sql.Timestamp.valueOf(ts), id, 100, temp, 1000, 50, 1, 2, 3, 0, seqNo)

  /** Per-file snapshot of a partition dir: name → (length, mtime, content hash). */
  private def snapshot(dir: String): Map[String, (Long, Long, Int)] = {
    val d = new java.io.File(dir)
    assert(d.exists(), s"expected partition dir $dir")
    d.listFiles().filter(_.isFile).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      f.getName -> ((f.length(), f.lastModified(), java.util.Arrays.hashCode(bytes)))
    }.toMap
  }

  test("upsert rewrites only the group partitions present in the batch") {
    val store = tempDir("pruned").toString + "/store"
    // start from a store the upsert did not write: four appends leave
    // alpha fragmented into four files
    (0 until 4).foreach { i =>
      Seq(rec("alpha", i, "2024-01-01 00:00:00", 1, temp = 20 + i)).toDF(storageCols: _*)
        .write.mode("append").partitionBy("sensor_group").parquet(store)
    }
    def parquets(group: String): Seq[String] =
      new java.io.File(s"$store/sensor_group=$group").listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSeq
    assert(parquets("alpha").size == 4, s"appends did not fragment: ${parquets("alpha")}")

    val up = SensorStream.upsertBatch(spark, store) _
    up(Seq(
      rec("alpha", 1, "2024-01-01 00:00:00", 2, temp = 72),
      rec("alpha", 1, "2024-01-01 00:00:00", 3, temp = 73), // batch-local winner
      rec("alpha", 9, "2024-01-01 00:00:00", 1, temp = 29),
      rec("beta", 2, "2024-01-01 00:00:00", 1)).toDF(storageCols: _*), 0L)
    val betaBefore = snapshot(s"$store/sensor_group=beta")

    // second batch touches only alpha — beta's files must be untouched
    // (same names, sizes, mtimes, bytes: never rewritten, not just equal)
    up(Seq(
      rec("alpha", 1, "2024-01-01 00:01:00", 2),
      rec("alpha", 0, "2024-01-01 00:00:00", 99, temp = 77), // overwrites an appended row
      rec("alpha", 2, "2024-01-01 00:00:00", 0, temp = 5)    // stale: lower seq than the store's
    ).toDF(storageCols: _*), 1L)
    assert(snapshot(s"$store/sensor_group=beta") == betaBefore,
      "untouched partition was rewritten")

    // the invariant that makes a compaction step unnecessary: every
    // partition an upsert publishes holds exactly one data file
    val groups = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("sensor_group=")).map(_.getName).sorted.toSeq
    assert(groups == Seq("sensor_group=alpha", "sensor_group=beta"), s"groups: $groups")
    groups.foreach { g =>
      val files = parquets(g.stripPrefix("sensor_group="))
      assert(files.size == 1, s"$g holds ${files.size} parquet files: $files")
    }

    // content is last-write-wins per (sensor_group, sensor_id, time_received)
    val got = spark.read.parquet(store)
      .select("sensor_group", "sensor_id", "time_received", "temperature", "seq")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getTimestamp(2).toString,
        r.getInt(3), r.getLong(4))).sorted.toSeq
    val t0 = "2024-01-01 00:00:00.0"; val t1 = "2024-01-01 00:01:00.0"
    assert(got == Seq(
      ("alpha", 0, t0, 77, 99L), ("alpha", 1, t0, 73, 3L), ("alpha", 1, t1, 20, 2L),
      ("alpha", 2, t0, 22, 1L), ("alpha", 3, t0, 23, 1L), ("alpha", 9, t0, 29, 1L),
      ("beta", 2, t0, 20, 1L)), s"store is not last-write-wins: $got")
  }

  test("numeric-looking group names keep their directory across merges") {
    // partition type inference would retype "01" → int 1 on the store
    // read-back and re-publish it under sensor_group=1, stranding the old
    // sensor_group=01 dir with duplicate PK rows. The explicit-schema read
    // keeps the group a STRING end-to-end. A name the directory layout
    // escapes ("a/b=c%d") must be read back from the directory it was
    // written to, or the merge would miss the stored row.
    for ((group, dir) <- Seq("01" -> Some("sensor_group=01"), "a/b=c%d" -> None)) {
      val store = tempDir("numgrp").toString + "/store"
      val up = SensorStream.upsertBatch(spark, store) _
      up(Seq(rec(group, 1, "2024-01-01 00:00:00", 1)).toDF(storageCols: _*), 0L)
      up(Seq(rec(group, 1, "2024-01-01 00:00:00", 2, temp = 30)).toDF(storageCols: _*), 1L)
      val dirs = new java.io.File(store).listFiles()
        .filter(_.getName.startsWith("sensor_group=")).map(_.getName).toSeq
      assert(dirs.size == 1 && dir.forall(dirs == Seq(_)), s"partition dirs diverged: $dirs")
      val rows = spark.read.schema(
          Seq(rec(group, 1, "2024-01-01 00:00:00", 1)).toDF(storageCols: _*).schema)
        .parquet(store).select("sensor_group", "temperature", "seq").collect()
      assert(rows.length == 1, s"duplicate PK rows in store: ${rows.toSeq}")
      assert(rows(0).getString(0) == group && rows(0).getInt(1) == 30)
    }
  }

  test("upsert fails fast on null sensor_group and sweeps orphan staging dirs") {
    val store = tempDir("nullgrp").toString + "/store"
    val up = SensorStream.upsertBatch(spark, store) _
    val withNull = Seq(rec("alpha", 1, "2024-01-01 00:00:00", 1))
      .toDF(storageCols: _*)
      .withColumn("sensor_group", org.apache.spark.sql.functions.lit(null).cast("string"))
    val e = intercept[IllegalArgumentException](up(withNull, 0L))
    assert(e.getMessage.contains("null sensor_group"))
    // an orphan staging dir from a crashed run under a DIFFERENT batch id
    // (e.g. after a checkpoint reset) must be swept by the next upsert
    val orphan = new java.io.File(store + "._staging_7777")
    orphan.mkdirs()
    up(Seq(rec("alpha", 1, "2024-01-01 00:00:00", 1)).toDF(storageCols: _*), 0L)
    assert(!orphan.exists(), "orphan staging dir survived recovery")
    assert(spark.read.parquet(store).count() == 1)
  }

  test("cross-batch out-of-seq delivery converges to the max-seq row") {
    // multi-partition-Kafka shape: a PK's later-seq record can land in an
    // EARLIER micro-batch; the store must still keep the max-seq payload.
    val store = tempDir("ooo").toString + "/store"
    val up = SensorStream.upsertBatch(spark, store) _
    up(Seq(rec("alpha", 1, "2024-01-01 00:00:00", 5, temp = 50)).toDF(storageCols: _*), 0L)
    up(Seq(rec("alpha", 1, "2024-01-01 00:00:00", 3, temp = 99)).toDF(storageCols: _*), 1L)
    val row = spark.read.parquet(store).select("temperature", "seq").collect()
    assert(row.length == 1)
    assert(row(0).getInt(0) == 50, "stale lower-seq record overwrote the store")
    assert(row(0).getLong(1) == 5L, "store version column must carry the max seq")
  }

  // -- what one upsert call runs: jobs, final-stage tasks, the write plan --
  /** What Spark ran for one call: the final stage's task count of each
    * job, in job order, and the executed plan of each write into a
    * staging dir. */
  private case class Ran(finalStageTasks: Seq[Int],
                         writes: Seq[org.apache.spark.sql.execution.SparkPlan]) {
    def jobs: Int = finalStageTasks.size
  }

  /** Runs `body` under a fresh job group and collects what it ran. The
    * listener, like the query-execution listener bus, sits on the shared
    * listener queue, which delivers events in posting order: once a
    * marker job started AFTER `body` reaches the listener, every event of
    * `body` has been delivered. */
  private def ran(body: => Unit): Ran = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val tag = s"upsert-${java.util.UUID.randomUUID}"
    val marker = s"$tag-marker"
    val tasks = new java.util.concurrent.ConcurrentSkipListMap[Int, Int]()
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `tag` => tasks.put(e.jobId, e.stageInfos.maxBy(_.stageId).numTasks)
          case `marker` => drained.countDown()
          case _ => ()
        }
    }
    val plans = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        nodes(qe.executedPlan).foreach {
          case w @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
              if c.outputPath.getName.contains("._staging_") => writes.add(w)
          case _ => ()
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(plans)
    sc.addSparkListener(jobs)
    try {
      sc.setJobGroup(tag, "upsert under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never drained")
    } finally {
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }
    import scala.jdk.CollectionConverters._
    Ran(tasks.values.asScala.toSeq, writes.asScala.toSeq)
  }

  /** Every node of an executed plan, through AQE stages and commands. */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: org.apache.spark.sql.execution.CommandResultExec => Seq(c.commandPhysicalPlan)
      case other => other.children
    }
    p +: below.flatMap(nodes)
  }

  /** Independent last-write-wins over storage records in delivery order:
    * per PK the max seq, and among equal seqs the later one. */
  private def lastWins(recs: Seq[(String, java.sql.Timestamp, Int, Int, Int, Int, Int, Int, Int, Int, Int, Long)])
      : Seq[(String, Int, String, Int, Long)] =
    recs.zipWithIndex.groupBy { case (r, _) => (r._1, r._3, r._2) }.values
      .map(_.maxBy { case (r, i) => (r._12, i) }._1)
      .map(r => (r._1, r._3, r._2.toString, r._5, r._12)).toSeq.sorted

  private def storeRows(store: String): Seq[(String, Int, String, Int, Long)] =
    spark.read.parquet(store)
      .select("sensor_group", "sensor_id", "time_received", "temperature", "seq")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getTimestamp(2).toString,
        r.getInt(3), r.getLong(4))).sorted.toSeq

  private def parquetFiles(store: String): Map[String, Int] =
    new java.io.File(store).listFiles().filter(_.getName.startsWith("sensor_group="))
      .map(d => d.getName -> d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet")))
      .toMap

  test("upsert merges each touched group in its own task, over one uncoalesced exchange") {
    // g1, g3 and g4 hash to one partition at 4 (and at 8) shuffle
    // partitions, so a hash exchange on sensor_group ran this merge as
    // one task; the names are the point of the test
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val store = tempDir("pergroup").toString + "/store"
    val up = SensorStream.upsertBatch(spark, store) _
    def batch(groups: Seq[String], seqNo: Long) = for {
      g <- groups; id <- 0 until 12
    } yield rec(g, id, s"2024-01-01 00:0${id % 3}:00", seqNo + id % 2, temp = id + seqNo.toInt)
    val first = batch(Seq("g1", "g2", "g3", "g4"), 1)
    up(first.toDF(storageCols: _*), 0L)
    // the second batch re-emits every key (some with a stale seq) and adds new ones
    val second = batch(Seq("g1", "g2", "g3", "g4"), 1)
        .map(r => r.copy(_5 = 90 + r._3, _12 = if (r._3 % 3 == 0) 0L else r._12 + 1)) ++
      batch(Seq("g4", "g2", "g3", "g1"), 2).map(r => r.copy(_3 = r._3 + 100))
    val call = ran(up(second.toDF(storageCols: _*), 1L))
    assert(call.finalStageTasks.last == 4,
      s"the write's final stage ran ${call.finalStageTasks.last} tasks, not one per group: " +
        call.finalStageTasks.mkString(","))
    assert(call.writes.size == 1, s"expected one staging write: ${call.writes}")
    val plan = nodes(call.writes.head)
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"expected exactly one exchange:\n${call.writes.head}")
    assert(exchanges.head.numPartitions == 4, s"exchange is not one slot per group:\n${call.writes.head}")
    assert(plan.collect { case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r }.isEmpty,
      s"the merge exchange was coalesced:\n${call.writes.head}")
    assert(parquetFiles(store) == Seq("g1", "g2", "g3", "g4").map(g => s"sensor_group=$g" -> 1).toMap,
      s"one parquet file per group: ${parquetFiles(store)}")
    assert(storeRows(store) == lastWins(first ++ second), "store is not last-write-wins")

    // more touched groups than shuffle partitions: slots are shared, and
    // each group still lands whole in one task
    val six = Seq("g1", "g2", "g3", "g4", "g5", "g6")
    val third = batch(six, 3).map(r => r.copy(_5 = 60 + r._3))
    up(third.toDF(storageCols: _*), 2L)
    assert(parquetFiles(store) == six.map(g => s"sensor_group=$g" -> 1).toMap,
      s"one parquet file per group: ${parquetFiles(store)}")
    assert(storeRows(store) == lastWins(first ++ second ++ third), "store is not last-write-wins")
  }

  test("an upsert into an existing store runs at most 3 jobs") {
    // listing the batch's groups, the merge's shuffle map stage, the write
    val store = tempDir("jobs").toString + "/store"
    val up = SensorStream.upsertBatch(spark, store) _
    up(Seq(rec("alpha", 1, "2024-01-01 00:00:00", 1), rec("beta", 2, "2024-01-01 00:00:00", 1))
      .toDF(storageCols: _*), 0L)
    val call = ran(up(Seq(rec("alpha", 1, "2024-01-01 00:00:00", 2, temp = 30),
      rec("beta", 3, "2024-01-01 00:00:00", 1)).toDF(storageCols: _*), 1L))
    assert(call.jobs <= 3, s"one upsert ran ${call.jobs} jobs")
    assert(storeRows(store).map(r => (r._1, r._2, r._4)) ==
      Seq(("alpha", 1, 30), ("beta", 2, 20), ("beta", 3, 20)))
  }

  test("an upsert's jobs do not grow with the number of groups in the store") {
    // past 32 directories (parallelPartitionDiscovery.threshold) Spark
    // lists a directory with a distributed job; the upsert reads only
    // the directories of the groups it touches
    val touched = Seq(rec("g00", 1, "2024-01-01 00:00:00", 2, temp = 31),
      rec("g01", 1, "2024-01-01 00:00:00", 2, temp = 32))
    def jobsInto(groups: Int): Int = {
      val store = tempDir(s"groups$groups").toString + "/store"
      val up = SensorStream.upsertBatch(spark, store) _
      up((0 until groups).map(g => rec(f"g$g%02d", 1, "2024-01-01 00:00:00", 1)).toDF(storageCols: _*), 0L)
      assert(parquetFiles(store).size == groups)
      val jobs = ran(up(touched.toDF(storageCols: _*), 1L)).jobs
      assert(storeRows(store).filter(r => Set("g00", "g01")(r._1)).map(_._4) == Seq(31, 32))
      jobs
    }
    val small = jobsInto(2)
    val large = jobsInto(40)
    assert(large == small, s"2 touched groups of a 40-group store ran $large jobs, of a 2-group store $small")
  }

  test("dynamic topic routing: per-topic dirs equal batch partitionBy across restart") {
    // R9/R10's one untested-at-runtime reference behavior (topic :=
    // sensor_group, mqtt_kafka_producer.py:117): route the stream into a
    // directory per topic, kill the query between files, restart on the
    // same checkpoint, and demand the final layout equal a batch
    // partitionBy of the same records — no loss, no dup, per topic.
    import graft.streaming.TopicRouter
    val base = tempDir("route").toString
    val inDir = s"$base/in"; val outDir = s"$base/topics"; val ckpt = s"$base/ckpt"
    new java.io.File(inDir).mkdirs()
    val lines = ndjsonLines
    val (part1, part2) = lines.splitAt(lines.length / 2)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/a.ndjson"),
      part1.mkString("\n").getBytes)

    val dim = SensorPipeline.loadDim(spark, Fixtures.sensorDim)
    def startQuery() = SensorStream
      .transform(graft.sources.SensorSources.fromNdjsonDir(spark, inDir), dim)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch(TopicRouter.routeToTopicDirs(outDir, "sensor_group") _)
      .start()

    val q1 = startQuery(); q1.processAllAvailable(); q1.stop() // "kill"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/b.ndjson"),
      part2.mkString("\n").getBytes)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

    val batch = SensorStream.transform(
      graft.sources.SensorSources.fromNdjsonBatch(spark, inDir), dim)
    val batchDir = s"$base/batch"
    batch.write.partitionBy("sensor_group").parquet(batchDir)
    def topicDirs(root: String) = graft.core.Fs.listOrEmpty(new java.io.File(root))
      .filter(_.getName.startsWith("sensor_group=")).map(_.getName).toSet
    assert(topicDirs(outDir) == topicDirs(batchDir) && topicDirs(outDir).nonEmpty,
      s"routed layout ${topicDirs(outDir)} != batch layout ${topicDirs(batchDir)}")
    // per-topic row multisets equal (schema pinned: group names must not
    // be re-typed by partition inference)
    val schema = spark.read.parquet(batchDir).schema
    val routed = spark.read.schema(schema).parquet(outDir)
      .collect().map(_.toString).sorted.toSeq
    val direct = spark.read.schema(schema).parquet(batchDir)
      .collect().map(_.toString).sorted.toSeq
    assert(routed == direct, "routed rows diverge from the batch layout")

    // checkpoint-replay idempotence: re-publishing a batch id replaces its
    // files instead of accumulating (and restores a partial publication)
    val replayOut = s"$base/replay"
    TopicRouter.routeToTopicDirs(replayOut, "sensor_group")(batch, 7L)
    val once = spark.read.schema(schema).parquet(replayOut)
      .collect().map(_.toString).sorted.toSeq
    // simulate a crash that lost one topic's published file mid-batch
    val victim = graft.core.Fs.listOrEmpty(new java.io.File(replayOut))
      .filter(_.getName.startsWith("sensor_group=")).head
    graft.core.Fs.listOrThrow(victim).foreach(graft.core.Fs.deleteRecursively)
    TopicRouter.routeToTopicDirs(replayOut, "sensor_group")(batch, 7L)
    val twice = spark.read.schema(schema).parquet(replayOut)
      .collect().map(_.toString).sorted.toSeq
    assert(once == twice, "batch replay did not converge per topic")

    // null topics fail fast instead of un-routing rows
    intercept[IllegalArgumentException] {
      TopicRouter.routeToTopicDirs(s"$base/nulls", "sensor_group")(
        batch.withColumn("sensor_group",
          when($"sensor_id" === batch.select(min($"sensor_id")).head.getInt(0),
            lit(null).cast("string")).otherwise($"sensor_group")), 0L)
    }
  }

  test("equivalent spellings of one store path share one lock") {
    // ADVICE r4: absolute-path keying let "/s/x" and "/s/./x" acquire
    // DIFFERENT locks — two writers could then race the staging sweep.
    val dir = tempDir("lockkey").toString
    val store = dir + "/store"
    assert(SensorStream.storeLock(store) eq SensorStream.storeLock(dir + "/./store"),
      "dot-segment spelling got a different lock")
    assert(SensorStream.storeLock(store) eq
      SensorStream.storeLock(dir + "/sub/../store"),
      "dot-dot spelling got a different lock")
    // symlinked parent resolves to the same lock as the real path
    val linked = java.nio.file.Paths.get(dir + "/link")
    java.nio.file.Files.createSymbolicLink(linked, java.nio.file.Paths.get(dir))
    assert(SensorStream.storeLock(store) eq SensorStream.storeLock(dir + "/link/store"),
      "symlink spelling got a different lock")
  }

  test("store writers serialize behind the per-store lock") {
    // the recovery preamble sweeps every sibling ._staging_* dir, so a
    // second concurrent writer would have its live staging deleted — the
    // lock serializes writers instead (upserts are idempotent, so waiting
    // is always correct, and a second writer overlapping a trigger must
    // not kill the streaming query with an exception)
    val store = tempDir("lock").toString + "/store"
    SensorStream.upsertBatch(spark, store)(
      Seq(rec("alpha", 1, "2024-01-01 00:00:00", 1)).toDF(storageCols: _*), 0L)
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      SensorStream.storeLock(store).lock()
      held.countDown()
      release.await()
      SensorStream.storeLock(store).unlock()
    })
    holder.start()
    held.await()
    // stand-in staging dir of the "in-flight" writer holding the lock
    val liveStaging = new java.io.File(store + "._staging_99")
    assert(liveStaging.mkdirs())
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      SensorStream.upsertBatch(spark, store)(
        Seq(rec("alpha", 2, "2024-01-01 00:00:00", 1)).toDF(storageCols: _*), 1L)
      done.set(true)
    })
    writer.start()
    Thread.sleep(500)
    assert(!done.get(), "writer proceeded while another writer held the store lock")
    assert(liveStaging.isDirectory, "blocked writer swept a live writer's staging")
    release.countDown(); holder.join(); writer.join(30000)
    assert(done.get(), "writer did not proceed after the lock was released")
    val rows = spark.read.parquet(store).select("sensor_id").collect().map(_.getInt(0)).sorted
    assert(rows.toSeq == Seq(1, 2), "serialized write lost data")
    // once the lock is free the planted dir is orphaned staging, and the
    // recovery preamble is REQUIRED to reclaim it
    assert(!liveStaging.exists(), "orphaned staging was not reclaimed after the lock was released")
  }

  test("pub/sub fan-out delivers each batch to every sink; listener counts rows") {
    implicit val sqlCtx = spark.sqlContext
    val listener = new SensorStream.CountingListener
    spark.streams.addListener(listener)
    val stream = MemoryStream[String]
    val dim = SensorPipeline.loadDim(spark, Fixtures.sensorDim)
    val store = tempDir("fan").toString + "/store"
    val seen = new java.util.concurrent.atomic.AtomicLong()
    val q = SensorStream.transform(stream.toDF(), dim)
      .writeStream.outputMode("append")
      .queryName("fanout_q")
      .foreachBatch(SensorStream.fanOutBatch(Seq(
        SensorStream.upsertBatch(spark, store) _,
        (b: org.apache.spark.sql.DataFrame, _: Long) => seen.addAndGet(b.count()): Unit)) _)
      .start()
    val lines = ndjsonLines.take(600)
    stream.addData(lines)
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(listener)
    // both subscribers observed the batch
    assert(seen.get() == 600)
    assert(spark.read.parquet(store).count() > 0)
    // listener accumulated the input rows for this query
    assert(listener.rowsByQuery.getOrDefault("fanout_q", 0L) == 600L)
    // R22/metrics-export: the accumulated counters round-trip through
    // the durable parquet metrics store...
    import graft.streaming.MetricsExport
    val snap = MetricsExport.snapshot(listener)
    assert(snap.get("fanout_q").contains(600L))
    val mdir = tempDir("metrics").toString
    MetricsExport.appendSnapshot(spark, snap, s"$mdir/store", epochSec = 1000L)
    MetricsExport.appendSnapshot(spark,
      snap.map { case (k, v) => k -> (v + 50L) }, s"$mdir/store",
      epochSec = 1060L)
    val series = spark.read.parquet(s"$mdir/store")
      .filter(col("name") === "fanout_q")
      .orderBy("epoch_sec")
      .select("epoch_sec", "value")
      .as[(Long, Long)].collect().toSeq
    assert(series == Seq((1000L, 600L), (1060L, 650L)), series)
  }

  test("graphite wire format is spec-locked: sorted lines, sanitized paths, no injection") {
    import graft.streaming.MetricsExport
    val lines = MetricsExport.graphiteLines("graft.sensors",
      Map("fanout_q" -> 600L, "a q.2" -> 7L), epochSec = 1234L)
    // delimiters in a query name cannot smuggle fields or split paths
    assert(lines == Seq(
      "graft.sensors.a_q_2 7 1234",
      "graft.sensors.fanout_q 600 1234"), lines)
    assert(lines.forall(l => l.split(" ").length == 3 && !l.contains("\n")))
    intercept[IllegalArgumentException] { MetricsExport.sanitize("") }
    intercept[IllegalArgumentException] {
      MetricsExport.graphiteLines("p", Map("x" -> 1L), epochSec = -5L)
    }
  }

  test("streaming tumbling window equals batch form (Q19 discipline)") {
    implicit val sqlCtx = spark.sqlContext
    val dim = SensorPipeline.loadDim(spark, Fixtures.sensorDim)
    val batchRecords = SensorStream.transform(spark.read.text(Fixtures.sensorNdjson), dim)
    val expected = SensorStream.tumblingStats(batchRecords, "5 minutes")
      .orderBy("window_start", "sensor_group").collect().toSeq

    val stream = MemoryStream[String]
    val streamStats = SensorStream.tumblingStats(
      SensorStream.transform(stream.toDF(), dim), "5 minutes")
    val q = streamStats.writeStream
      .outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .start()
    ndjsonLines.grouped(900).foreach { chunk =>
      stream.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("tumbling_out")
      .orderBy("window_start", "sensor_group").collect().toSeq
    assert(got == expected)
  }
}
