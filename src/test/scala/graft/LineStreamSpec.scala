package graft

import org.apache.spark.sql.functions._
import graft.pipeline.SensorPipeline
import graft.sources.{LineMicroBatchStream, LineOffset, LineSlice, LineStreamSource}
import graft.streaming.SensorStream

/** The custom DataSourceV2 micro-batch source (graft's in-engine stand-in
  * for the reference's MQTT/Kafka edge, R1/R11): offset-contract unit
  * checks plus the end-to-end exactly-once discipline — sensor pipeline
  * through the source equals the batch form, and a kill-and-restart from
  * the checkpoint resumes without loss or duplication. */
class LineStreamSpec extends SparkSpec {

  private def ndjsonLines: Seq[String] =
    scala.io.Source.fromFile(Fixtures.sensorNdjson).getLines().toSeq

  private def write(path: String, lines: Seq[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("\n").getBytes("UTF-8"))

  test("offset contract: latestOffset counts all segments, ranges slice exactly") {
    val dir = tempDir("linesrc").toString
    write(s"$dir/a.txt", Seq("a1", "a2", "a3"))
    write(s"$dir/b.txt", Seq("b1", "b2"))
    val stream = new LineMicroBatchStream(dir)
    assert(stream.initialOffset() == LineOffset(0L))
    assert(stream.latestOffset() == LineOffset(5L))
    // a batch spanning the tail of segment a and the head of segment b
    val slices = stream.planInputPartitions(LineOffset(1L), LineOffset(4L))
      .map(_.asInstanceOf[LineSlice])
      .map(s => (new java.io.File(s.path).getName, s.startLine, s.endLine)).toSeq
    assert(slices == Seq(("a.txt", 1L, 3L), ("b.txt", 0L, 1L)))
    // an empty range plans nothing; offsets survive a serde round-trip
    assert(stream.planInputPartitions(LineOffset(5L), LineOffset(5L)).isEmpty)
    assert(stream.deserializeOffset(LineOffset(3L).json()) == LineOffset(3L))
    // new segment appended after the old ones: offsets extend monotonically
    write(s"$dir/c.txt", Seq("c1"))
    assert(stream.latestOffset() == LineOffset(6L))
    val again = stream.planInputPartitions(LineOffset(1L), LineOffset(4L))
      .map(_.asInstanceOf[LineSlice])
      .map(s => (new java.io.File(s.path).getName, s.startLine, s.endLine)).toSeq
    assert(again == slices, "already-planned ranges must be stable as the log grows")
  }

  test("maxLinesPerTrigger caps every micro-batch; rows still arrive exactly once") {
    // R5's runtime face: admission control clamps each batch's end offset
    // to start + cap, so a backlog drains in bounded bites instead of one
    // giant first batch
    val dir = tempDir("linecap").toString
    val lines = (1 to 23).map(i => s"line-$i")
    write(s"$dir/seg-000.txt", lines.take(11))
    write(s"$dir/seg-001.txt", lines.drop(11))
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.format(LineStreamSource.format)
      .option("maxLinesPerTrigger", "5")
      .load(dir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(_.getString(0))
        batchSizes.synchronized { batchSizes += rows.length; seen ++= rows }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batchSizes.nonEmpty && batchSizes.forall(_ <= 5),
      s"micro-batch exceeded the cap: $batchSizes")
    assert(batchSizes.count(_ > 0) >= 5, // 23 lines / cap 5 -> at least 5 bites
      s"backlog not drained in capped bites: $batchSizes")
    assert(seen.sorted.toSeq == lines.sorted, "lines lost or duplicated under the cap")

    // unit face: the clamp itself, plus all-available when uncapped
    val s = new LineMicroBatchStream(dir, Some(5L))
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    assert(s.latestOffset(LineOffset(0L), ReadLimit.maxRows(5L)) == LineOffset(5L))
    assert(s.latestOffset(LineOffset(20L), ReadLimit.maxRows(5L)) == LineOffset(23L))
    assert(s.latestOffset(LineOffset(0L), ReadLimit.allAvailable()) == LineOffset(23L))
    assert(s.reportLatestOffset() == LineOffset(23L))
  }

  test("sensor pipeline through the DSv2 source survives restart without loss or dupes") {
    // the custom-source image of the reference's consumer restart: commit
    // offsets (checkpoint), die, come back, resume from the committed
    // offset — no record lost, none duplicated.
    val base = tempDir("linesrc2").toString
    val inDir = s"$base/in"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    new java.io.File(inDir).mkdirs()
    val lines = ndjsonLines
    val (part1, part2) = lines.splitAt(lines.length / 2)
    write(s"$inDir/seg-000.ndjson", part1)

    val dim = SensorPipeline.loadDim(spark, Fixtures.sensorDim)
    def startQuery() = SensorStream.transform(
        spark.readStream.format(LineStreamSource.format).load(inDir), dim)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch(SensorStream.upsertBatch(spark, store) _)
      .start()

    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(store).count() > 0)

    write(s"$inDir/seg-001.ndjson", part2)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()

    // a third restart with no new data must not replay anything
    val before = spark.read.parquet(store).collect().toSet
    val q3 = startQuery()
    q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(store).collect().toSet == before)

    val streamed = spark.read.parquet(store).drop("seq")
      .orderBy("sensor_group", "sensor_id", "time_received")
    val batch = SensorPipeline.run(spark, Fixtures.sensorNdjson, Fixtures.sensorDim)
    assert(streamed.count() == batch.count(), "restart lost or duplicated rows")
    assert(streamed.select(batch.columns.map(col): _*).collect().toSeq ==
      batch.collect().toSeq)
  }

  test("R10/R11 kafka wiring is spec-locked offline: options, wire decode, and topic routing") {
    import spark.implicits._
    import graft.sources.SensorSources
    // reader options: multi-topic subscribe, checkpoint-owned offsets,
    // admission cap — the exact map fromKafka hands the connector
    assert(SensorSources.kafkaSourceOptions("b1:9092,b2:9092",
      Seq("grp_a", "grp_b"), 5000L) == Map(
      "kafka.bootstrap.servers" -> "b1:9092,b2:9092",
      "subscribe" -> "grp_a,grp_b",
      "startingOffsets" -> "earliest",
      "maxOffsetsPerTrigger" -> "5000"))
    intercept[IllegalArgumentException] {
      SensorSources.kafkaSourceOptions("b:9092", Seq.empty, 1L)
    }
    intercept[IllegalArgumentException] {
      SensorSources.kafkaSourceOptions("b:9092", Seq("a,b"), 1L)
    }
    // value decode over kafka's REAL wire schema (key/value BINARY +
    // metadata): exactly one string column named value
    val wire = Seq((
        "k1".getBytes("UTF-8"), """{"id":1,"T":20}""".getBytes("UTF-8"),
        "grp_a", 0, 3L))
      .toDF("key", "value", "topic", "partition", "offset")
    val decoded = SensorSources.kafkaWireValue(wire)
    assert(decoded.columns.toSeq == Seq("value"))
    assert(decoded.as[String].collect().toSeq == Seq("""{"id":1,"T":20}"""))
    // sink projection: per-row DYNAMIC topic from sensor_group, string
    // key from sensor_id, the full record as the JSON value (R9 routing
    // + R7 serialization in one tested projection)
    val recs = Seq((101, "grp_a", -3), (102, "grp_b", 7))
      .toDF("sensor_id", "sensor_group", "T")
    val out = SensorSources.kafkaWireRecords(recs)
    assert(out.columns.toSeq == Seq("topic", "key", "value"))
    val rows = out.as[(String, String, String)].collect().sortBy(_._2)
    assert(rows.toSeq == Seq(
      ("grp_a", "101", """{"sensor_id":101,"sensor_group":"grp_a","T":-3}"""),
      ("grp_b", "102", """{"sensor_id":102,"sensor_group":"grp_b","T":7}""")))
    // writer options: broker + checkpoint, nothing silently defaulted
    assert(SensorSources.kafkaSinkOptions("b:9092", "/ck") == Map(
      "kafka.bootstrap.servers" -> "b:9092",
      "checkpointLocation" -> "/ck"))
    intercept[IllegalArgumentException] {
      SensorSources.kafkaSinkOptions("b:9092", "")
    }
    // Cassandra swap-point wiring (same offline discipline): the option
    // map is pinned and the foreachBatch face has upsertBatch's shape —
    // a connected deployment swaps sinks by changing one argument
    assert(SensorSources.cassandraSinkOptions("sensors", "records") ==
      Map("keyspace" -> "sensors", "table" -> "records"))
    intercept[IllegalArgumentException] {
      SensorSources.cassandraSinkOptions("", "records")
    }
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      SensorSources.toCassandraBatch("sensors", "records")
    assert(sink != null)
  }

  // ------------------------------ byte-offset line index (seek path)

  test("indexLines matches getLines semantics on terminator edge cases") {
    val dir = tempDir("lineidx")
    def check(name: String, bytes: Array[Byte]): Unit = {
      val f = dir.resolve(name).toFile
      java.nio.file.Files.write(f.toPath, bytes)
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val want = try src.getLines().size.toLong finally src.close()
      val idx = LineMicroBatchStream.indexLines(f)
      assert(idx.lines == want, s"$name: ${idx.lines} vs getLines $want")
      // every recorded stride offset must point at the right line's bytes
      val all = {
        val s2 = scala.io.Source.fromFile(f, "UTF-8")
        try s2.getLines().toIndexedSeq finally s2.close()
      }
      idx.strideBytes.zipWithIndex.foreach { case (off, k) =>
        val in = new java.io.FileInputStream(f)
        try {
          in.skipNBytes(off)
          val got = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          val lineNo = k * LineMicroBatchStream.Stride
          assert(got.hasNext && got.next() ==
            all(lineNo), s"$name stride $k points at wrong line")
        } finally in.close()
      }
    }
    check("lf.txt", "a\nbb\nccc\n".getBytes("UTF-8"))
    check("noeol.txt", "a\nbb\nccc".getBytes("UTF-8"))
    check("crlf.txt", "a\r\nbb\r\nccc\r\n".getBytes("UTF-8"))
    check("cr.txt", "a\rbb\rccc".getBytes("UTF-8"))
    check("blank.txt", "\n\na\n\n".getBytes("UTF-8"))
    check("empty.txt", Array.empty[Byte])
    check("unicode.txt", "π\nδοκιμή\nень\n".getBytes("UTF-8"))
    // past one stride, so a non-zero offset is recorded and verified
    check("big.txt",
      (0 until 2500).map(i => s"line-$i").mkString("\n").getBytes("UTF-8"))
  }

  test("slice readers produce identical rows with and without a seek point") {
    val dir = tempDir("lineseek").toString
    val lines = (0 until 3000).map(i => s"""{"v":$i}""")
    write(s"$dir/a.txt", lines)
    val stream = new LineMicroBatchStream(dir)
    val slices = stream.planInputPartitions(LineOffset(1500L), LineOffset(2600L))
      .map(_.asInstanceOf[LineSlice])
    assert(slices.nonEmpty)
    // planner must emit a real seek point past the first stride
    assert(slices.exists(_.seekByte > 0L), s"no seek point in ${slices.toSeq}")
    val factory = stream.createReaderFactory()
    def readAll(ss: Seq[LineSlice]): Seq[String] = ss.flatMap { s =>
      val r = factory.createReader(s)
      val out = Seq.newBuilder[String]
      while (r.next()) out += r.get().getUTF8String(0).toString
      r.close()
      out.result()
    }
    val seeked = readAll(slices.toSeq)
    val scanned = readAll(slices.toSeq.map(_.copy(seekByte = 0L, seekLine = 0L)))
    assert(seeked == scanned, "seek path drifted from the scan path")
    assert(seeked == lines.slice(1500, 2600), "slice content wrong")
  }
}
