package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.pipeline.SensorPipeline
import graft.streaming.{SensorStream, StreamingOps}

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def dim = SensorPipeline.loadDim(spark, Fixtures.sensorDim)

  private def wireJson(id: Int, iso: String, seq: Long): String =
    s"""{"id":$id,"uptime":1,"T":20,"P":1000,"H":50,"Ix":0,"Iy":0,"Iz":0,"M":1,"time_received":"$iso","seq":$seq}"""

  test("watermark drops late rows in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val agg = StreamingOps.tumblingWithWatermark(
      SensorStream.transform(stream.toDF(), dim), "1 minute", "2 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    // batch 1: rows up to 10:30 → watermark after batch = 10:28
    stream.addData(Seq(
      wireJson(100, "2024-03-01T10:00:10", 1),
      wireJson(100, "2024-03-01T10:00:20", 2),
      wireJson(100, "2024-03-01T10:30:00", 3)))
    q.processAllAvailable()
    // batch 2: a row at 10:00 — 28 minutes late, beyond the 2-minute
    // watermark → dropped; plus one fresh row to advance/flush
    stream.addData(Seq(
      wireJson(100, "2024-03-01T10:00:30", 4),
      wireJson(100, "2024-03-01T11:00:00", 5)))
    q.processAllAvailable()
    // batch 3: advance watermark far so all windows finalize
    stream.addData(Seq(wireJson(100, "2024-03-01T12:00:00", 6)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wm_out")
      .select($"window_start".cast("string"), $"n").as[(String, Long)].collect().toMap
    assert(rows("2024-03-01 10:00:00") == 2, s"late row not dropped: $rows")
    assert(rows("2024-03-01 10:30:00") == 1)
  }

  test("dropDuplicatesWithinWatermark suppresses in-horizon duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val deduped = StreamingOps.dedupWithinWatermark(
      SensorStream.transform(stream.toDF(), dim), "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dd_out").start()
    stream.addData(Seq(
      wireJson(100, "2024-03-01T10:00:00", 1),
      wireJson(100, "2024-03-01T10:00:00", 2), // same PK, same batch
      wireJson(101, "2024-03-01T10:00:05", 3)))
    q.processAllAvailable()
    stream.addData(Seq(
      wireJson(100, "2024-03-01T10:00:00", 4), // same PK, next batch, in horizon
      wireJson(100, "2024-03-01T10:05:00", 5)))
    q.processAllAvailable()
    q.stop()
    val n = spark.table("dd_out")
      .filter($"sensor_id" === 100 && $"time_received" === lit("2024-03-01 10:00:00").cast("timestamp"))
      .count()
    assert(n == 1, s"duplicate not suppressed (got $n rows)")
  }

  test("session_window: streaming equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val lines = scala.io.Source.fromFile(Fixtures.sensorNdjson).getLines().toSeq
    val batch = StreamingOps.sessionStats(
      SensorStream.transform(spark.read.text(Fixtures.sensorNdjson), dim), "3 minutes")
      .orderBy("sensor_id", "session_start").collect().toSeq

    val stream = MemoryStream[String]
    val q = StreamingOps.sessionStats(
      SensorStream.transform(stream.toDF(), dim), "3 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_out").start()
    lines.grouped(1000).foreach { c => stream.addData(c); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("sess_out")
      .orderBy("sensor_id", "session_start").collect().toSeq
    assert(streamed == batch)
  }

  test("stream-stream self join pairs group-mates within tolerance") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    // sensors 100 and 104 are both in g1 (id % 4 == 0 → g1)
    val joined = StreamingOps.selfJoinWithinTolerance(
      SensorStream.transform(stream.toDF(), dim), "5 minutes", 30)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    stream.addData(Seq(
      wireJson(100, "2024-03-01T10:00:00", 1),
      wireJson(104, "2024-03-01T10:00:10", 2), // within 30s of sensor 100
      wireJson(108, "2024-03-01T10:10:00", 3))) // same group, out of tolerance
    q.processAllAvailable()
    stream.addData(Seq(wireJson(100, "2024-03-01T11:00:00", 4))) // advance watermark
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ssj_out").select($"id_a", $"id_b").as[(Int, Int)].collect().toSet
    assert(pairs.contains((100, 104)), s"expected (100,104) in $pairs")
    assert(!pairs.exists(p => p._1 == 108 || p._2 == 108), s"out-of-tolerance pair leaked: $pairs")
  }

  test("transformWithState flags temperature anomalies against running mean") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[StreamingOps.SensorEvent]
      val anomalies = StreamingOps.temperatureAnomalies(stream.toDS(), delta = 10.0)
      val q = anomalies.writeStream.outputMode("append")
        .format("memory").queryName("tws_out").start()
      def ev(id: Int, iso: String, t: Int) =
        StreamingOps.SensorEvent(id, Timestamp.valueOf(iso), t)
      stream.addData(Seq(
        ev(1, "2024-03-01 10:00:00", 20),
        ev(1, "2024-03-01 10:00:10", 21),
        ev(1, "2024-03-01 10:00:20", 22)))
      q.processAllAvailable()
      stream.addData(Seq(
        ev(1, "2024-03-01 10:00:30", 90),  // anomaly vs running avg ~21
        ev(1, "2024-03-01 10:00:40", 21))) // back to normal (avg pulled up but within?)
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_out").as[StreamingOps.TempAnomaly].collect()
      assert(got.exists(a => a.temperature == 90), s"90-degree spike not flagged: ${got.toSeq}")
      assert(!got.exists(a => a.temperature == 22), "normal reading flagged")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming minhash index emits exactly the batch near-dup pair set") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // corpus with planted near-dups (the ExtrasSpec x02 recipe), split
      // so each planted pair STRADDLES a micro-batch boundary: the pair
      // must come from bucket state, not within-batch matching
      val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
        .limit(20).select($"doc_id", $"text")
        .as[(Long, String)].collect().toSeq
      val dups = base.map { case (id, text) => (id + 100000L, text + " perturbedtail") }
      val corpus = base ++ dups
      val batchPairs = graft.operators.Dedup
        .minhashLshPairs(corpus.toDF("doc_id", "text"))
        .as[(Long, Long, Int, Int)].collect().toSet
      assert(batchPairs.nonEmpty, "fixture produced no batch pairs")

      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps.minhashNearDupStream(stream.toDF().toDF("doc_id", "text"))
        .writeStream.outputMode("append")
        .format("memory").queryName("mh_out").start()
      try {
        stream.addData(base); q.processAllAvailable()
        stream.addData(dups.take(10)); q.processAllAvailable()
        stream.addData(dups.drop(10)); q.processAllAvailable()
        val streamed = spark.table("mh_out")
          .as[(Long, Long, Int, Int)].collect().toSet
        assert(streamed == batchPairs,
          s"missing: ${batchPairs -- streamed}; extra: ${streamed -- batchPairs}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming anomaly gate equals batch flagOutliers on replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    val events = graft.core.Tables.load(spark, sf("sf0.001"), "events")
    // frozen baseline: moments of the full corpus, round-tripped through
    // parquet (the persisted-artifact contract)
    val mPath = tempDir("moments").toString
    Analytics.momentsOf(events, "event_type", "value")
      .write.mode("overwrite").parquet(mPath)
    val moments = spark.read.parquet(mPath)
    val batch = Analytics
      .flagOutliers(events, moments, "event_type", "value", Analytics.AnomalyK)
      .select($"event_id", $"z".cast("double"))
      .as[(Long, Double)].collect().toSet
    assert(batch.nonEmpty, "fixture has no outliers — vacuous test")

    val rows = events.select($"event_id", $"event_type", $"value")
      .as[(Long, String, Double)].collect().toSeq
    val stream = MemoryStream[(Long, String, Double)]
    val q = StreamingOps.anomalyStream(
        stream.toDF().toDF("event_id", "event_type", "value"),
        moments, "event_type", "value", Analytics.AnomalyK)
      .select($"event_id", $"z".cast("double"))
      .writeStream.outputMode("append")
      .format("memory").queryName("anomaly_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("anomaly_out")
        .as[(Long, Double)].collect().toSeq
      assert(streamed.size == streamed.toSet.size, "a row was emitted twice")
      assert(streamed.toSet == batch,
        s"missing: ${batch -- streamed.toSet}; extra: ${streamed.toSet -- batch}")
    } finally q.stop()
  }

  test("streaming MAD gate equals batch x60 on replay against a frozen baseline") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    val events = graft.core.Tables.load(spark, sf("sf0.001"), "events")
    // frozen baseline: med/mad of the full corpus, round-tripped through
    // parquet (the persisted-artifact contract)
    val bPath = tempDir("madbase").toString
    Analytics.madBaselineOf(events, Seq("event_type"), "value")
      .write.mode("overwrite").parquet(bPath)
    val baseline = spark.read.parquet(bPath)
    val batch = Analytics
      .madGate(events.filter($"value".isNotNull), baseline, Seq("event_type"), "value")
      .select($"event_id").as[Long].collect().toSet
    assert(batch.nonEmpty, "fixture has no MAD outliers — vacuous test")
    // and the full-corpus baseline reproduces x60 exactly
    val viaQuery = Analytics.madOutlierQuery(spark, sf("sf0.001"))
      .select($"event_id").as[Long].collect().toSet
    assert(batch == viaQuery, "frozen-baseline gate drifted from x60")

    val rows = events.select($"event_id", $"event_type", $"value")
      .as[(Long, String, Option[Double])].collect().toSeq
    val stream = MemoryStream[(Long, String, Option[Double])]
    val q = StreamingOps.madStream(
        stream.toDF().toDF("event_id", "event_type", "value"),
        baseline, "event_type", "value")
      .select($"event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("mad_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("mad_out").as[Long].collect().toSeq
      assert(streamed.size == streamed.toSet.size, "a row was emitted twice")
      assert(streamed.toSet == batch,
        s"missing: ${batch -- streamed.toSet}; extra: ${streamed.toSet -- batch}")
    } finally q.stop()
  }

  test("streaming clip gate equals the batch clip; winsorized sum matches x58") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    val events = graft.core.Tables.load(spark, sf("sf0.001"), "events")
    val bPath = tempDir("clipbounds").toString
    Analytics.winsorBoundsOf(events, Seq("event_type"), "value",
        Analytics.WinsorLo, Analytics.WinsorHi)
      .write.mode("overwrite").parquet(bPath)
    val bounds = spark.read.parquet(bPath)
    val batchClip = Analytics
      .clipGate(events, bounds, Seq("event_type"), "value")
      .select($"event_id", $"v_w".cast("double")).as[(Long, Option[Double])]
      .collect().toMap
    // non-vacuous: something actually clips
    val raw = events.select($"event_id", $"value").as[(Long, Option[Double])]
      .collect().toMap
    assert(batchClip.exists { case (id, vw) => vw != raw(id) })
    // the gate's clipped sum IS x58's sum_w (same arithmetic, frozen
    // bounds == in-query bounds on the same corpus)
    val viaGate = Analytics.clipGate(events.filter($"value".isNotNull),
        bounds, Seq("event_type"), "value")
      .groupBy($"event_type").agg(sum($"v_w").cast("double").as("s"))
      .as[(String, Double)].collect().toMap
    val viaX58 = Analytics.winsorQuery(spark, sf("sf0.001"))
      .select($"event_type", $"sum_w").as[(String, Double)].collect().toMap
    assert(viaGate == viaX58, "gate sum drifted from x58")

    val rows = events.select($"event_id", $"event_type", $"value")
      .as[(Long, String, Option[Double])].collect().toSeq
    val stream = MemoryStream[(Long, String, Option[Double])]
    val q = StreamingOps.clipStream(
        stream.toDF().toDF("event_id", "event_type", "value"),
        bounds, "event_type", "value")
      .select($"event_id", $"v_w".cast("double"))
      .writeStream.outputMode("append")
      .format("memory").queryName("clip_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("clip_out")
        .as[(Long, Option[Double])].collect().toMap
      assert(streamed == batchClip,
        s"diffs: ${batchClip.collect { case (k, v) if streamed.get(k) != Some(v) => (k, v, streamed.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming OOV gate equals batch x63 on replay against a frozen vocabulary") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    // the frozen-vocab gate reproduces x63 exactly on the same corpus
    // (at sf0.001 the top-50 vocab covers every token — fine for the
    // identity check, vacuous for the OOV path, hence the small vocab
    // below for the streaming half)
    val viaGate = TextAnalysis
      .oovGate(docs, TextAnalysis.corpusVocab(docs, TextAnalysis.OovVocabN))
      .as[(Long, Long, Long)].collect().toSet
    val viaQuery = TextAnalysis.oovQuery(spark, sf("sf0.001"))
      .as[(Long, Long, Long)].collect().toSet
    assert(viaGate == viaQuery, "frozen-vocab gate drifted from x63")
    // a 10-term vocabulary leaves real OOV mass — the gate's live case
    val vPath = tempDir("vocab").toString
    TextAnalysis.corpusVocab(docs, 10).write.mode("overwrite").parquet(vPath)
    val vocab = spark.read.parquet(vPath)
    val batch = TextAnalysis.oovGate(docs, vocab)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.exists(_._3 > 0), "vacuous: nothing out-of-vocabulary")

    val rows = docs.select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.oovStream(stream.toDF().toDF("doc_id", "text"), vocab)
      .writeStream.outputMode("update")
      .format("memory").queryName("oov_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("oov_out").as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"missing: ${batch -- streamed}; extra: ${streamed -- batch}")
    } finally q.stop()
  }

  test("streaming OOV gate is immune to duplicate vocabulary rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    // "any external vocab" is the contract — a vocab frame with repeated
    // term rows must not double-count hits (the failure mode: counted
    // _n_iv inflates and n_oov goes negative, diverging from the batch
    // gate's set-semantics semi-join)
    val docs = Seq((1L, "a b c d"), (2L, "a a a")).toDF("doc_id", "text")
    val dupVocab = Seq("a", "a", "a", "b").toDF("term")
    val clean = TextAnalysis.oovGate(docs, dupVocab.distinct())
      .as[(Long, Long, Long)].collect().toSet
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.oovStream(stream.toDF().toDF("doc_id", "text"), dupVocab)
      .writeStream.outputMode("update")
      .format("memory").queryName("oov_dup_out").start()
    try {
      stream.addData(Seq((1L, "a b c d"), (2L, "a a a")))
      q.processAllAvailable()
      val streamed = spark.table("oov_dup_out").as[(Long, Long, Long)].collect().toSet
      assert(streamed.forall(_._3 >= 0), s"negative n_oov: $streamed")
      assert(streamed == clean, s"duplicate vocab rows changed the report: $streamed vs $clean")
    } finally q.stop()
  }

  test("streaming ANN probe equals batch IVF top-k on replay and prunes each batch's read") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val emb = graft.core.Tables.load(spark, sf("sf0.001"), "embeddings")
    val root = tempDir("ivf-stream").toString + "/ivf"
    Similarity.saveIvfIndex(emb, root, nCentroids = 16)
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val batch = Similarity
      .ivfTopK(Similarity.loadIvfIndex(spark, root), queries, k = 5, nProbe = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(batch.nonEmpty, "vacuous: batch probe returned nothing")

    val allLists = new java.io.File(
        graft.core.DeltaIndex.current(spark, root) + "/lists").listFiles()
      .count(_.getName.startsWith("centroid_id="))
    // per-batch evidence: result rows + how many list files the pruned
    // scan actually read (the batch IVF gate's numFiles discipline)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val collected = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    val batchSizes = scala.collection.mutable.Map.empty[Long, Int]
    val filesRead = scala.collection.mutable.Map.empty[Long, Long]
    val probe = StreamingOps.annProbeBatch(root, k = 5, nProbe = 2) { (out, id) =>
      // walk the SAME dataset that was executed: .as[] builds a new
      // Dataset whose queryExecution is the one collect() runs
      val typed = out.as[(Long, Long, Int)]
      collected ++= typed.collect()
      filesRead(id) = scans(typed.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("/lists")))
        .map(_.metrics("numFiles").value).sum
    }

    val rows = queries.as[(Long, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = stream.toDF().toDF("query_id", "qvec")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batchSizes(id) = b.count().toInt
        probe(b, id)
      }
      .start()
    try {
      // each query is a single row, so its top-k is complete in its
      // arrival batch; any chunking replays to the same union
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      assert(collected.toSet == batch,
        s"missing: ${(batch -- collected).take(5)}; extra: ${(collected.toSet -- batch).take(5)}")
      // the scale gate: every micro-batch read at most its own probed
      // centroids' partitions (<= batchSize x nProbe), never the whole
      // layout — the r10 static-side persist() scanned all lists per batch
      val nonEmpty = batchSizes.filter(_._2 > 0).keys
      assert(nonEmpty.nonEmpty && nonEmpty.forall(filesRead.contains), "no batches probed")
      nonEmpty.foreach { id =>
        val cap = math.min(batchSizes(id) * 2, allLists)
        assert(filesRead(id) > 0 && filesRead(id) <= cap && filesRead(id) < allLists,
          s"batch $id read ${filesRead(id)} list files (cap $cap of $allLists total)")
      }
    } finally q.stop()
  }

  test("streaming ANN probe reloads the codebook after a mid-stream republish at an UNCHANGED root") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    // the r11 ADVICE failure mode: a republish leaves the artifact root
    // unchanged, so a cache keyed on the ROOT would keep ranking with
    // the old codebook's centroids against the freshly re-read NEW
    // lists — silent codebook/lists drift. The cache is keyed on the
    // current generation dir, unique per publish; this pins the reload.
    val emb = graft.core.Tables.load(spark, sf("sf0.001"), "embeddings")
    val root = tempDir("ivf-republish").toString + "/ivf"
    Similarity.saveIvfIndex(emb, root, nCentroids = 16)
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val rows = queries.as[(Long, Seq[Float])].collect().toSeq

    val collected = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Int)]]
    val probe = StreamingOps.annProbeBatch(root, k = 5, nProbe = 2) { (out, id) =>
      collected(id) = out.as[(Long, Long, Int)].collect().toSet
    }
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = stream.toDF().toDF("query_id", "qvec")
      .writeStream.foreachBatch(probe).start()
    try {
      stream.addData(rows); q.processAllAvailable()
      val before = Similarity
        .ivfTopK(Similarity.loadIvfIndex(spark, root), queries, k = 5, nProbe = 2)
        .as[(Long, Long, Int)].collect().toSet
      assert(collected.nonEmpty && collected(collected.keys.min) == before,
        "pre-republish batch diverged from the batch path")
      // republish at the SAME root with a materially different index
      // (4 centroids, not 16): only the snapshot underneath changes
      Similarity.saveIvfIndex(emb, root, nCentroids = 4)
      val after = Similarity
        .ivfTopK(Similarity.loadIvfIndex(spark, root), queries, k = 5, nProbe = 2)
        .as[(Long, Long, Int)].collect().toSet
      assert(after != before,
        "vacuous: the republished index probes identically to the old one")
      stream.addData(rows); q.processAllAvailable()
      val post = collected(collected.keys.max)
      assert(post == after,
        s"stale codebook served against new lists after republish: " +
          s"missing ${(after -- post).take(5)}; extra ${(post -- after).take(5)}")
    } finally q.stop()
  }

  test("streaming interval top-k gate equals batch x61 on replay against a frozen calendar") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.IntervalJoin
    val dir = sf("sf0.001")
    val iv = graft.core.Tables.load(spark, dir, "orders").select(
      $"o_orderkey".as("id"),
      to_date($"o_orderdate").as("d0"),
      date_add(to_date($"o_orderdate"),
        ($"o_orderkey" % IntervalJoin.WindowModDays).cast("int")).as("d1"))
    val pts = graft.core.Tables.load(spark, dir, "lineitem")
      .filter($"l_quantity" >= IntervalJoin.PointQuantityMin)
      .select(to_date($"l_shipdate").as("d"),
        ($"l_orderkey" * IntervalJoin.PtKeyStride + $"l_linenumber").as("pt_key"),
        $"l_extendedprice".as("score"))
    val batch = IntervalJoin
      .topKPointsPerIntervalBroadcast(iv, pts, IntervalJoin.TopKPerInterval)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(batch.nonEmpty)

    val rows = iv.select($"id", unix_date($"d0"), unix_date($"d1"))
      .as[(Long, Int, Int)].collect().toSeq
    val stream = MemoryStream[(Long, Int, Int)]
    val streamIv = stream.toDF().toDF("id", "_ud0", "_ud1")
      .select($"id", date_from_unix_date($"_ud0").as("d0"),
        date_from_unix_date($"_ud1").as("d1"))
    val q = StreamingOps
      .intervalTopKStream(streamIv, pts, IntervalJoin.TopKPerInterval)
      .writeStream.outputMode("append")
      .format("memory").queryName("itopk_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("itopk_out")
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(streamed == batch,
        s"missing: ${(batch -- streamed).take(3)}; extra: ${(streamed -- batch).take(3)}")
    } finally q.stop()
    // over-bound calendars fail fast instead of silently planning an
    // unstreamable window join
    intercept[IllegalArgumentException] {
      StreamingOps.intervalTopKStream(streamIv, pts,
        IntervalJoin.TopKPerInterval, maxCalendarEntries = 4)
    }
  }

  test("streaming temperature-mix gate equals batch x68 on replay; unseen sources pass") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"source")
    val rPath = tempDir("temp_rates").toString
    Sampling.temperatureRatesOf(docs).write.mode("overwrite").parquet(rPath)
    val rates = spark.read.parquet(rPath)
    val batch = Sampling.applyRates(docs, rates, $"doc_id", "temp")
      .select($"doc_id").as[Long].collect().toSet
    // frozen-rate gate == the self-derived mix on the same corpus
    val selfMix = Sampling.temperatureMix(docs, $"doc_id", "temp")
      .select($"doc_id").as[Long].collect().toSet
    assert(batch == selfMix)

    val rows = docs.as[(Long, String)].collect().toSeq :+
      (999999L, "brand_new_source") // absent from the frozen rates
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps
      .temperatureMixStream(stream.toDF().toDF("doc_id", "source"), rates,
        $"doc_id", "temp")
      .writeStream.outputMode("append")
      .format("memory").queryName("tmix_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("tmix_out").select($"doc_id")
        .as[Long].collect().toSet
      assert(streamed == batch + 999999L,
        s"missing: ${(batch -- streamed).take(5)}; extra: ${(streamed -- batch - 999999L).take(5)}")
    } finally q.stop()
  }

  test("streaming decontamination gate equals batch x16 on replay") {
    implicit val sqlCtx = spark.sqlContext
    // the x16 configuration: src0/src1 slices are the held-out reference,
    // everything else is the training-candidate pool
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val isRef = $"source".isin("src0", "src1")
    val ref = docs.filter(isRef).select($"doc_id", $"text")
    val cands = docs.filter(!isRef).select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val batch = graft.operators.Dedup
      .decontaminate(cands.toDF("doc_id", "text"), ref)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.exists(_._3 > 0), "fixture has no contaminated docs — vacuous test")

    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.decontaminateStream(stream.toDF().toDF("doc_id", "text"), ref)
      .writeStream.outputMode("update")
      .format("memory").queryName("decon_out").start()
    try {
      // replay in three micro-batches: the broadcast reference side must
      // score every batch identically
      cands.grouped((cands.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("decon_out")
        .as[(Long, Long, Long)].collect().toSeq
      // update mode emits each doc once (its grams arrive in one batch) —
      // exact multiset equality, not just set
      assert(streamed.size == streamed.toSet.size, "a doc was emitted twice")
      assert(streamed.toSet == batch,
        s"missing: ${batch -- streamed.toSet}; extra: ${streamed.toSet -- batch}")
    } finally q.stop()
  }

  test("streaming funnel equals batch x34 on in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = graft.core.Tables.load(spark, sf("sf0.001"), "events")
      val batch = Analytics.funnel(events, "user_id", "event_type", "ts",
          Analytics.FunnelStages, Analytics.FunnelWindowUs)
        .as[(String, Long)].collect().toMap
      assert(batch.size == Analytics.FunnelStages.size && batch.values.forall(_ > 0),
        s"vacuous funnel fixture: $batch")

      // in-order replay: global (ts, event_id) order, three micro-batches
      val rows = events
        .select($"user_id", $"event_type", unix_micros($"ts").as("ts_us"), $"event_id")
        .orderBy($"ts_us", $"event_id")
        .as[(Long, String, Long, Long)].collect().toSeq
      val stream = MemoryStream[(Long, String, Long, Long)]
      val q = StreamingOps.funnelStream(
          stream.toDF().toDF("user_id", "event_type", "ts_us", "event_id")
            .withColumn("ts", timestamp_micros($"ts_us")).drop("ts_us"),
          "user_id", "event_type", "ts", "event_id",
          Analytics.FunnelStages, Analytics.FunnelWindowUs)
        .writeStream.outputMode("append")
        .format("memory").queryName("funnel_out").start()
      try {
        rows.grouped((rows.size + 2) / 3).foreach { chunk =>
          stream.addData(chunk); q.processAllAvailable()
        }
        val advances = spark.table("funnel_out")
          .as[StreamingOps.StageAdvance].collect().toSeq
        // exactly-once per (user, stage)
        assert(advances.map(a => (a.user_id, a.stage)).distinct.size == advances.size,
          "a stage advance was emitted twice")
        val streamed = advances.groupBy(_.stage).view.mapValues(_.size.toLong).toMap
        assert(streamed == batch,
          s"streamed funnel $streamed != batch $batch")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming retention equals batch x35 on in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = graft.core.Tables.load(spark, sf("sf0.001"), "events")
      val batch = Analytics.weeklyRetention(events, "user_id", "ts")
        .as[(java.sql.Date, Int, Long)].collect()
        .map { case (c, k, n) => (c.toString, k) -> n }.toMap
      assert(batch.nonEmpty && batch.exists(_._1._2 > 0),
        "vacuous retention fixture: no post-cohort activity")

      val rows = events
        .select($"user_id", unix_micros($"ts").as("ts_us"))
        .orderBy($"ts_us", $"user_id")
        .as[(Long, Long)].collect().toSeq
      val stream = MemoryStream[(Long, Long)]
      val q = StreamingOps.retentionStream(
          stream.toDF().toDF("user_id", "ts_us")
            .withColumn("ts", timestamp_micros($"ts_us")).drop("ts_us"),
          "user_id", "ts")
        .writeStream.outputMode("append")
        .format("memory").queryName("retention_out").start()
      try {
        rows.grouped((rows.size + 2) / 3).foreach { chunk =>
          stream.addData(chunk); q.processAllAvailable()
        }
        val cells = spark.table("retention_out")
          .as[StreamingOps.WeekActivity].collect().toSeq
        assert(cells.map(c => (c.user_id, c.cohort_week.toString, c.week_k))
          .distinct.size == cells.size, "a user-week cell survived twice")
        val streamed = cells.groupBy(c => (c.cohort_week.toString, c.week_k))
          .view.mapValues(_.size.toLong).toMap
        assert(streamed == batch,
          s"missing: ${batch.keySet -- streamed.keySet}; extra: ${streamed.keySet -- batch.keySet}; " +
          s"diffs: ${batch.collect { case (k, v) if streamed.get(k).exists(_ != v) => (k, v, streamed(k)) }}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming moving average equals batch x32 on in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = graft.core.Tables.load(spark, sf("sf0.001"), "events")
      val batch = Analytics.movingAvgQuery(spark, sf("sf0.001"))
        .select($"event_id", $"mavg").as[(Long, Double)].collect().toMap
      // non-vacuous: some window must hold >1 sample (mavg != own value)
      val own = events.select($"event_id", $"value").as[(Long, Double)].collect().toMap
      assert(batch.exists { case (id, m) => math.abs(m - own(id)) > 1e-9 },
        "vacuous fixture: every trailing window holds only its own event")

      // in-order replay: global (ts, event_id) order, three micro-batches
      // split on a TIMESTAMP boundary (same-ts events must co-batch — the
      // range window puts simultaneous events in each other's window)
      val rows = events
        .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"), $"value")
        .orderBy($"ts_us", $"event_id")
        .as[(Long, Long, Long, Double)].collect().toSeq
      val stream = MemoryStream[(Long, Long, Long, Double)]
      val q = StreamingOps.movingAvgStream(
          stream.toDF().toDF("event_id", "user_id", "ts_us", "value")
            .withColumn("ts", timestamp_micros($"ts_us")).drop("ts_us"),
          "user_id", "ts", "value", "event_id", Analytics.MovingAvgWindowUs)
        .writeStream.outputMode("append")
        .format("memory").queryName("mavg_out").start()
      try {
        val third = (rows.size + 2) / 3
        val cut1 = rows.take(third).lastOption.map(_._3)
        val chunks = Seq(
          rows.takeWhile(r => cut1.exists(r._3 <= _)),
          rows.dropWhile(r => cut1.exists(r._3 <= _))).flatMap {
            case rest if rest.size > third =>
              val cut2 = rest.take(third).lastOption.map(_._3)
              Seq(rest.takeWhile(r => cut2.exists(r._3 <= _)),
                rest.dropWhile(r => cut2.exists(r._3 <= _)))
            case rest => Seq(rest)
          }.filter(_.nonEmpty)
        assert(chunks.map(_.size).sum == rows.size)
        chunks.foreach { chunk => stream.addData(chunk); q.processAllAvailable() }
        val streamed = spark.table("mavg_out")
          .as[StreamingOps.MavgPoint].collect().toSeq
        assert(streamed.size == rows.size,
          s"${streamed.size} points streamed for ${rows.size} events")
        val sm = streamed.map(p => p.event_id -> p.mavg).toMap
        val bad = batch.collect {
          case (id, m) if sm(id) != m => (id, m, sm(id))
        }
        assert(bad.isEmpty, s"mavg mismatches (batch, streamed): ${bad.take(5)}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming moving average mirrors the batch cast on NaN values") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    // NaN casts to null DECIMAL(18,4) in batch: excluded from both the
    // sum AND the divisor, the event still gets an output row. The
    // streaming face must do exactly that (a NaN used to throw inside
    // the processor and kill the query). user 2's only event is NaN:
    // batch emits a null avg, the typed streaming row carries NaN.
    val rows = Seq(
      (1L, 1L, 1000L, 10.0), (2L, 1L, 2000L, Double.NaN),
      (3L, 1L, 3000L, 20.0), (4L, 2L, 1000L, Double.NaN))
    val batchDf = rows.toDF("event_id", "user_id", "ts_us", "value")
      .withColumn("ts", timestamp_micros($"ts_us"))
    val batch = batchDf
      .select($"event_id",
        Analytics.movingAvg("user_id", "ts", "value", 1000000L).as("mavg"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
      .toMap
    assert(batch(2L) == 10.0, "NaN must not deflate the window average")
    assert(batch(4L).isNaN, "empty representable window is null in batch")
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[(Long, Long, Long, Double)]
      val q = StreamingOps.movingAvgStream(
          stream.toDF().toDF("event_id", "user_id", "ts_us", "value")
            .withColumn("ts", timestamp_micros($"ts_us")).drop("ts_us"),
          "user_id", "ts", "value", "event_id", 1000000L)
        .writeStream.outputMode("append")
        .format("memory").queryName("mavg_nan_out").start()
      try {
        stream.addData(rows)
        q.processAllAvailable()
        val streamed = spark.table("mavg_nan_out")
          .as[StreamingOps.MavgPoint].collect()
          .map(p => p.event_id -> p.mavg).toMap
        assert(streamed.keySet == batch.keySet)
        batch.foreach { case (id, m) =>
          assert(m == streamed(id) || (m.isNaN && streamed(id).isNaN),
            s"event $id: batch $m vs streamed ${streamed(id)}")
        }
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming quantile sketch: exact counts, rank-bounded estimates, KB-bounded state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.expressions.KllOps
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = graft.core.Tables.load(spark, sf("sf0.001"), "events")
        .select($"event_type", $"value").as[(String, Double)].collect().toSeq
      val byType = events.groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2) }
      val stream = MemoryStream[(String, Double)]
      val q = StreamingOps.quantileStream(
          stream.toDF().toDF("event_type", "value"), "event_type", "value")
        .writeStream.outputMode("append")
        .format("memory").queryName("kll_stream_out").start()
      try {
        // three micro-batches: the sketch must accumulate across them
        events.grouped((events.size + 2) / 3).foreach { chunk =>
          stream.addData(chunk); q.processAllAvailable()
        }
        // LAST estimate per group = the full-stream sketch
        val finals = spark.table("kll_stream_out")
          .as[StreamingOps.QuantileEstimate].collect()
          .groupBy(_.grp).map { case (g, rs) => g -> rs.maxBy(_.n) }
        assert(finals.keySet == byType.keySet)
        val eps = 3 * KllOps.epsilon(KllOps.DefaultK)
        finals.foreach { case (g, est) =>
          val values = byType(g)
          assert(est.n == values.length, s"$g: n=${est.n} != ${values.length}")
          def rank(v: Double) = values.count(_ <= v).toDouble / values.length
          assert(math.abs(rank(est.p50) - 0.50) < eps, s"$g p50=${est.p50}")
          assert(math.abs(rank(est.p95) - 0.95) < eps, s"$g p95=${est.p95}")
        }
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("rate source generates strict-parse-clean wire records") {
    val q = graft.sources.SensorSources.fromRate(spark, rowsPerSecond = 500)
      .transform(df => SensorPipeline.parseStrict(df))
      .writeStream.outputMode("append")
      .format("memory").queryName("rate_out").start()
    try {
      q.processAllAvailable()
      Thread.sleep(1500) // let the rate source emit
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("rate_out")
    val n = out.count()
    assert(n > 0, "rate source produced no rows")
    // every generated record passes the strict-arity gate
    val violations = out.filter(col("_violation").isNotNull)
      .select("_violation").limit(3).collect().toSeq
    assert(violations.isEmpty, s"rate records rejected: $violations")
    // ids land in the dim table's range
    assert(out.filter(col("id") < 100 || col("id") > 139).isEmpty)
  }

  test("flatMapGroupsWithState sessionization emits sessions on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamingOps.SensorEvent]
    val sessions = StreamingOps.sensorSessions(stream.toDS(), gapMillis = 60000L, delay = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("fmgws_out").start()
    def ev(id: Int, iso: String, t: Int) =
      StreamingOps.SensorEvent(id, Timestamp.valueOf(iso), t)
    stream.addData(Seq(
      ev(1, "2024-03-01 10:00:00", 20),
      ev(1, "2024-03-01 10:00:30", 25),
      ev(2, "2024-03-01 10:00:00", 30)))
    q.processAllAvailable()
    // gap > 60s for sensor 1 → its session closes once watermark passes
    stream.addData(Seq(ev(2, "2024-03-01 10:10:00", 31)))
    q.processAllAvailable()
    stream.addData(Seq(ev(2, "2024-03-01 10:20:00", 32))) // push watermark further
    q.processAllAvailable()
    q.stop()
    val got = spark.table("fmgws_out").as[StreamingOps.SessionAgg].collect()
    val s1 = got.find(_.sensor_id == 1)
    assert(s1.isDefined, s"sensor 1 session not emitted: ${got.toSeq}")
    assert(s1.get.n == 2 && s1.get.max_temp == 25)
  }

  test("streaming interval attribution equals the batch binned join on replay") {
    implicit val sqlCtx = spark.sqlContext
    def day(n: Int) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(9000L + n))
    val iv = Seq((10L, day(0), day(9)), (20L, day(5), day(5)), (30L, day(40), day(60)))
      .toDF("id", "d0", "d1")
    val pts = (0 until 30).map(i => (i.toLong, (i * 7) % 65))
    val expected = pts.flatMap { case (pid, d) =>
      Seq((10L, 0, 9), (20L, 5, 5), (30L, 40, 60)).collect {
        case (id, lo, hi) if d >= lo && d <= hi => (pid, id)
      }
    }.toSet
    assert(expected.nonEmpty && expected.map(_._2).size >= 2, "vacuous fixture")
    val stream = MemoryStream[(Long, Int)]
    val q = StreamingOps.intervalMatchStream(
        stream.toDF().toDF("pid", "dn")
          .withColumn("d", date_add(lit(java.sql.Date.valueOf(
            java.time.LocalDate.ofEpochDay(9000L))), $"dn")).drop("dn"),
        iv, binDays = 7)
      .writeStream.outputMode("append")
      .format("memory").queryName("ivmatch_out").start()
    try {
      pts.grouped(10).foreach { chunk => stream.addData(chunk); q.processAllAvailable() }
      val got = spark.table("ivmatch_out")
        .select($"pid", $"id").as[(Long, Long)].collect().toSet
      assert(got == expected,
        s"missing: ${expected -- got}; extra: ${got -- expected}")
    } finally q.stop()
  }

  test("streaming pii gate redacts and gates each arriving doc (== batch)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "plain words"),
      (2L, "mail bob@x.io now"),
      (3L, "call 555-123-4567 from 10.0.0.1"))
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.piiGateStream(
        stream.toDF().toDF("doc_id", "text"), maxPii = 0L)
      .writeStream.outputMode("append")
      .format("memory").queryName("pii_out").start()
    try {
      rows.grouped(2).foreach { c => stream.addData(c); q.processAllAvailable() }
      val got = spark.table("pii_out")
        .as[(Long, String, Long, Boolean)].collect().sortBy(_._1)
      assert(got.toSeq == Seq(
        (1L, "plain words", 0L, true),
        (2L, "mail [EMAIL] now", 1L, false),
        (3L, "call [PHONE] from [IP]", 2L, false)), s"got ${got.toSeq}")
      // chunking-invariance vs the stateless batch image
      val batch = StreamingOps.piiGateStream(
          rows.toDF("doc_id", "text"), maxPii = 0L)
        .as[(Long, String, Long, Boolean)].collect().sortBy(_._1)
      assert(batch.toSeq == got.toSeq)
    } finally q.stop()
  }

  test("streaming source quota admits first cap per source, replay-stable") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = (1L to 9L).map(i => (i, if (i % 3 == 0) "b" else "a"))
      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps.sourceQuotaStream(
          stream.toDF().toDF("doc_id", "source"), cap = 2L)
        .writeStream.outputMode("append")
        .format("memory").queryName("quota_out").start()
      try {
        // uneven chunking straddling the quota boundary
        rows.grouped(4).foreach { c => stream.addData(c); q.processAllAvailable() }
        val got = spark.table("quota_out")
          .as[StreamingOps.QuotaDecision].collect()
          .map(d => (d.doc_id, d.source, d.rk, d.kept)).sortBy(_._1)
        // source a gets ids 1,2,4,5,7,8 in order; b gets 3,6,9
        assert(got.toSeq == Seq(
          (1L, "a", 1L, true), (2L, "a", 2L, true), (3L, "b", 1L, true),
          (4L, "a", 3L, false), (5L, "a", 4L, false), (6L, "b", 2L, true),
          (7L, "a", 5L, false), (8L, "a", 6L, false), (9L, "b", 3L, false)),
          s"got ${got.toSeq}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming url frontier equals batch x104 on in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the x104 plant: noise variants that collide after canonicalization
      val rows = (1L to 40L).map { i =>
        val noise = (if (i % 2 == 0) "HTTPS://" else "https://") +
          (if (i % 3 == 0) "WWW." else "")
        (i, s"${noise}s${i % 4}.example.com/p/${i % 5}" +
          (if (i % 7 == 0) "#f" else ""))
      }
      val batch = graft.operators.WebPrep.urlDedup(
          rows.toDF("doc_id", "url"))
        .as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      assert(batch.values.exists(_._4 == 1L), "vacuous fixture: no dups")

      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps.urlFrontierStream(
          stream.toDF().toDF("doc_id", "url"))
        .writeStream.outputMode("append")
        .format("memory").queryName("frontier_out").start()
      try {
        rows.grouped(9).foreach { c => stream.addData(c); q.processAllAvailable() }
        val got = spark.table("frontier_out")
          .as[StreamingOps.FrontierDecision].collect()
          .map(d => d.doc_id ->
            ((d.doc_id, d.canon, d.keep_id, if (d.admitted) 0L else 1L)))
          .toMap
        assert(got == batch,
          s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming dedup equals batch x106 on in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = tempDir("dedupstream").toString
      val corpus = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
        .limit(25).select($"doc_id", $"text")
      graft.operators.Dedup.saveDedupIndex(corpus, s"$dir/idx")
      // batch: corpus echoes (dups) + fresh docs + a within-stream dup pair
      val rows = corpus.limit(10)
        .select(($"doc_id" + 500L).as("doc_id"), $"text")
        .as[(Long, String)].collect().toSeq ++
        Seq((600L, "fresh one"), (601L, "fresh two"), (602L, "fresh one"))
      val batchFace = graft.operators.Dedup.dedupAgainst(
          rows.toDF("doc_id", "text"),
          graft.operators.Dedup.loadDedupIndex(spark, s"$dir/idx"))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._1, r._2, r._3 == 1L))).toMap
      assert(batchFace.values.exists(_._3) && batchFace.values.exists(!_._3))

      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps.dedupStream(
          stream.toDF().toDF("doc_id", "text"), s"$dir/idx")
        .writeStream.outputMode("append")
        .format("memory").queryName("dedup_out").start()
      try {
        rows.sortBy(_._1).grouped(5).foreach { c =>
          stream.addData(c); q.processAllAvailable()
        }
        val got = spark.table("dedup_out")
          .as[StreamingOps.DedupDecision].collect()
          .map(d => d.doc_id -> ((d.doc_id, d.keep_id, d.dup))).toMap
        assert(got == batchFace,
          s"drift: ${batchFace.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming decayed popularity equals batch x111 at the frozen reference day") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ev = graft.core.Tables.load(spark, sf("sf0.001"), "events")
        .filter($"ts".isNotNull)
      val batch = Analytics.decayPopularity(ev)
        .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
      assert(batch.nonEmpty && batch.values.exists(v => v._3 < v._2),
        "vacuous fixture: no decay observed (all weights 1.0)")
      // the batch face derives its reference from the corpus max day;
      // the stream freezes the SAME day, so the two faces must agree
      // cell-exactly under any replay chunking (order-independent sums)
      val refDay = ev.agg(max(to_date($"ts"))).as[java.sql.Date].head().toLocalDate
      val rows = ev.select($"event_type", $"ts".cast("long"))
        .as[(String, Long)].collect().toSeq
      val stream = MemoryStream[(String, Long)]
      val q = StreamingOps.decayStream(
          stream.toDF().toDF("event_type", "_sec")
            .select($"event_type", $"_sec".cast("timestamp").as("ts")), refDay)
        .writeStream.outputMode("update")
        .format("memory").queryName("decay_out").start()
      try {
        rows.grouped((rows.size + 2) / 3).foreach { chunk =>
          stream.addData(chunk); q.processAllAvailable()
        }
        // UPDATE mode: the last row per key is the converged score
        val streamed = spark.table("decay_out")
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"event_type").orderBy($"n_events".desc)))
          .filter($"rn" === 1).drop("rn")
          .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
        assert(streamed == batch,
          s"drift: ${batch.collect { case (k, v) if streamed.get(k) != Some(v) => (k, v, streamed.get(k)) }.take(5)}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming dialog audit equals batch x125 on in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    val ev = graft.core.Tables.load(spark, sf("sf0.001"), "events")
      .filter($"user_id".isNotNull && $"ts".isNotNull && $"event_type".isNotNull)
    val batch = Analytics.dialogAudit(ev)
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(batch.values.exists(_._4 > 0), "vacuous fixture: no breaks anywhere")

    val rows = ev.select($"user_id", $"event_type", $"ts".cast("long") * 1000000L
        + (unix_micros($"ts") - $"ts".cast("long") * 1000000L), $"event_id")
      .orderBy($"ts", $"event_id") // the in-order replay contract
      .as[(Long, String, Long, Long)].collect().toSeq
    val stream = MemoryStream[(Long, String, Long, Long)]
    val q = StreamingOps.dialogAuditStream(
        stream.toDF().toDF("user_id", "event_type", "_us", "event_id")
          .select($"user_id", $"event_type",
            timestamp_micros($"_us").as("ts"), $"event_id"))
      .writeStream.outputMode("update")
      .format("memory").queryName("dialog_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      // UPDATE mode: the row with the max turn count per thread is the
      // converged audit
      val streamed = spark.table("dialog_out")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"thread_id").orderBy($"n_turns".desc)))
        .filter($"rn" === 1).drop("rn")
        .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      assert(streamed == batch,
        s"drift: ${batch.collect { case (k, v) if streamed.get(k) != Some(v) => (k, v, streamed.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming SFT pairs equal batch x146 on in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    val ev = graft.core.Tables.load(spark, sf("sf0.001"), "events")
      .filter($"user_id".isNotNull && $"ts".isNotNull && $"event_type".isNotNull)
    val batch = Analytics.sftPairs(ev)
      .as[(Long, Long, Long, Long, String, String, Long)].collect().toSet
    assert(batch.nonEmpty, "vacuous fixture: no pairs")

    val rows = ev.select($"user_id", $"event_type", unix_micros($"ts"), $"event_id")
      .orderBy($"ts", $"event_id") // the in-order replay contract
      .as[(Long, String, Long, Long)].collect().toSeq
    val stream = MemoryStream[(Long, String, Long, Long)]
    val q = StreamingOps.sftPairsStream(
        stream.toDF().toDF("user_id", "event_type", "_us", "event_id")
          .select($"user_id", $"event_type",
            timestamp_micros($"_us").as("ts"), $"event_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sft_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      // APPEND mode: each pair is emitted exactly once, final on emit
      val streamed = spark.table("sft_out")
        .as[(Long, Long, Long, Long, String, String, Long)].collect().toSet
      assert(streamed == batch,
        s"drift: missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming epoch keys sort to the batch x141 permutation after replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val batch = Sampling.epochOrder(docs)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap

    val ids = docs.select($"doc_id").as[Long].collect().toSeq.sorted
    val stream = MemoryStream[Long]
    val q = StreamingOps.epochKeyStream(stream.toDF().toDF("doc_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("epochkey_out").start()
    try {
      ids.grouped((ids.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      // the consumer contract: an epoch's order IS the sort of its
      // accumulated (k, doc_id) keys
      val streamed = spark.table("epochkey_out")
        .withColumn("ord", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"epoch").orderBy($"k", $"doc_id")).cast("long"))
        .as[(Long, Long, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._4).toMap
      assert(streamed == batch,
        s"drift: ${batch.collect { case (k, v) if streamed.get(k) != Some(v) => (k, v, streamed.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming pack assignment equals batch x21 on in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text")
    val batch = Sampling.packSequences(docs)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(batch.values.map(_._4).toSet.size > 1, "vacuous fixture: one pack")

    val rows = docs.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.packStream(stream.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("pack_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("pack_out")
        .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming contamination excision equals batch x151 against the frozen index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val dir = tempDir("excisestream").toString
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val isRef = $"source".isin("src0", "src1")
    val ref = docs.filter(isRef)
    val cand = docs.filter(!isRef).select($"doc_id", $"text")
    Dedup.saveDecontamIndex(ref, s"$dir/idx")
    val batch = Dedup.exciseContamination(cand, ref)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(batch.values.exists(_._3 > 0), "vacuous fixture: nothing excised")

    val rows = cand.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.exciseStream(
        stream.toDF().toDF("doc_id", "text"), s"$dir/idx")
      .writeStream.outputMode("append")
      .format("memory").queryName("excise_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("excise_out")
        .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming quality panel: the fused x163 projection runs as-is on a stream, replay equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text")
    def key(r: org.apache.spark.sql.Row) = r.getLong(0)
    val batch = TextAnalysis.qualityPanel(base)
      .collect().map(r => key(r) -> r.toSeq).toMap
    val rows = base.as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.qualityPanelStream(stream.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("qpanel_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("qpanel_out")
        .collect().map(r => key(r) -> r.toSeq).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(3)}")
    } finally q.stop()
  }

  test("streaming span corruption: the x166 in-row fold runs as-is on a stream, replay equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.DocPrep
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text")
    val batch = DocPrep.spanCorruptAudit(base)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    val rows = base.as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = DocPrep.spanCorruptAudit(stream.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("span_corrupt_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("span_corrupt_out")
        .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(3)}")
    } finally q.stop()
  }

  test("streaming encoding audit: the x164 projection runs as-is on a stream, replay equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.DocPrep
    // plant damage the way the batch face does, then replay
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .withColumn("text", concat($"text",
        when($"doc_id" % 9 === 0, lit(" bad" + DocPrep.ReplChar + "decode"))
          .otherwise(lit("")),
        when($"doc_id" % 13 === 0, lit(" bell\u0007byte")).otherwise(lit(""))))
      .select($"doc_id", $"text")
    val batch = DocPrep.encodingAudit(base)
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val rows = base.as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = DocPrep.encodingAudit(stream.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("encoding_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("encoding_out")
        .as[(Long, Long, Long, Long, Long, Long, Long)]
        .collect().map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(3)}")
      assert(batch.values.exists(_._3 > 0) && batch.values.exists(_._4 > 0),
        "plants missing")
    } finally q.stop()
  }

  test("streaming gopher gate: the x147 projection runs as-is on a stream, replay equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    // x147 is a stateless narrow projection, so the operator IS its own
    // streaming face — the live content filter a crawler runs at the
    // ingestion edge, no wrapper needed
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text")
    val batch = TextAnalysis.gopherRules(base)
      .as[(Long, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val rows = base.as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = TextAnalysis.gopherRules(stream.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("gopher_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("gopher_out")
        .as[(Long, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming readability: the x148 projection runs as-is on a stream, replay equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    // x148, like x147, is a stateless narrow projection — the operator
    // IS its own streaming face (the live difficulty signal at the
    // ingestion edge, no wrapper needed)
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text")
    val batch = TextAnalysis.readability(base)
      .as[(Long, Long, Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    val rows = base.as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = TextAnalysis.readability(stream.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("readability_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("readability_out")
        .as[(Long, Long, Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming line repetition: the x154 projection runs as-is on a stream, replay equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    // x154 is per-document and in-row (sorted adjacent-equal runs), so
    // like x147/x148 the operator IS its own streaming face
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text")
    val batch = Dedup.lineRepetition(base)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val rows = base.as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = Dedup.lineRepetition(stream.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("line_rep_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("line_rep_out")
        .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming curriculum gate equals batch x150 bands against the frozen edges") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    // distinct per-doc lengths (doc i has i tokens) so no tie can span a
    // band boundary — the regime where the value-only live gate equals
    // the rank-based batch assignment exactly
    val ref = (1 to 40).map(i => (i.toLong, (1 to i).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Sampling.curriculumBands(ref)
      .select($"doc_id", $"band").as[(Long, Long)].collect().toMap
    val edges = Sampling.curriculumEdgesOf(ref)
    val rows = ref.as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.curriculumStream(
        stream.toDF().toDF("doc_id", "text"), edges)
      .writeStream.outputMode("append")
      .format("memory").queryName("curriculum_out").start()
    try {
      rows.grouped(15).foreach { c => stream.addData(c); q.processAllAvailable() }
      // unseen lengths clamp: shorter than every reference doc -> lowest
      // band; longer than every reference doc -> top band
      stream.addData(Seq((100L, ""), (101L, (1 to 99).map(j => s"x$j").mkString(" "))))
      q.processAllAvailable()
      val got = spark.table("curriculum_out")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
      assert(batch.forall { case (id, b) => got(id) == b },
        s"drift: ${batch.collect { case (id, b) if got(id) != b => (id, b, got(id)) }.take(5)}")
      assert(got(100L) == 0L, s"short unseen doc got band ${got(100L)}")
      assert(got(101L) == Sampling.curriculumBands(ref)
        .agg(max($"band")).as[Long].head(), s"long unseen doc got band ${got(101L)}")
    } finally q.stop()
  }

  test("streaming leakage probe equals batch x152 against the frozen index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    val dir = tempDir("leak_probe").toString
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    Sampling.saveLeakageIndex(base, s"$dir/idx")
    val index = spark.read.parquet(
      graft.core.DeltaIndex.current(spark, s"$dir/idx") + "/grams")
    val batch = Sampling.leakageProbe(
        base.select($"doc_id", $"text"), index)
      .as[(Long, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val rows = base.select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.leakageProbeStream(
        stream.toDF().toDF("doc_id", "text"), s"$dir/idx")
      .writeStream.outputMode("update")
      .format("memory").queryName("leak_probe_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      // update mode re-emits a refined row per batch; the LAST emission
      // per (doc, split) is the final count — docs arrive whole, so one
      // emission each, but dedup defensively by keeping the max
      val got = spark.table("leak_probe_out")
        .groupBy($"doc_id", $"split").agg(max($"shared_grams").as("sg"))
        .as[(Long, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming PCA projection equals batch x162 against the frozen axes") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val dir = tempDir("pca_axes").toString
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "embeddings")
    Similarity.savePcaAxes(base, s"$dir/axes")
    val batch = Similarity.pcaProjection2(base)
      .as[(Long, Int, Double, Double)].collect().map(r => r._1 -> r).toMap
    val rows = base.select($"vec_id", $"embedding".cast("array<double>"), $"label")
      .as[(Long, Seq[Double], Int)].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Double], Int)]
    val q = StreamingOps.pcaProjectionStream(
        stream.toDF().toDF("vec_id", "embedding", "label")
          .withColumn("embedding", $"embedding".cast("array<float>")),
        s"$dir/axes")
      .writeStream.outputMode("append")
      .format("memory").queryName("pca_proj_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("pca_proj_out")
        .as[(Long, Int, Double, Double)].collect().map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming DSIR gate equals batch x153 against the frozen model") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    val dir = tempDir("dsir_model").toString
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val raw = base.filter($"source" =!= "src0").select($"doc_id", $"text")
    val target = base.filter($"source" === "src0").select($"doc_id", $"text")
    Sampling.saveDsirModel(raw, target, s"$dir/model")
    val batch = Sampling.dsirWeights(raw, target)
      .as[(Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    val rows = raw.as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.dsirStream(
        stream.toDF().toDF("doc_id", "text"), s"$dir/model")
      .writeStream.outputMode("update")
      .format("memory").queryName("dsir_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("dsir_out")
        .as[(Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming NB quality gate equals batch x155 against the frozen model") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val dir = tempDir("nb_model").toString
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val positive = $"source".isin("src0", "src1")
    TextAnalysis.saveNbModel(base, positive, s"$dir/model")
    // the live face drops the label column no arriving doc carries
    val batch = TextAnalysis.nbQualityClassifier(base, positive)
      .select($"doc_id", $"n_feats", $"log_odds", $"pred")
      .as[(Long, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    val rows = base.select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.nbGateStream(
        stream.toDF().toDF("doc_id", "text"), s"$dir/model")
      .writeStream.outputMode("update")
      .format("memory").queryName("nb_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("nb_out")
        .as[(Long, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming BPE encode: the frozen-merge-table projection runs as-is, replay equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text").limit(100)
    val merges = TextAnalysis.bpeMergeTable(base)
    val batch = TextAnalysis.bpeEncodedCounts(base, merges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val rows = base.as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    // the merge table is collected at plan-build time and compiled into
    // chained in-row folds — a stateless projection, its own live face
    val q = TextAnalysis.bpeEncodedCounts(
        stream.toDF().toDF("doc_id", "text"), merges)
      .writeStream.outputMode("append")
      .format("memory").queryName("bpe_encode_out").start()
    try {
      rows.grouped((rows.size + 1) / 2).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("bpe_encode_out")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming CCNet LM gate equals batch x159 against the frozen model and edges") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Sampling, TextAnalysis}
    val dir = tempDir("lm_model").toString
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text")
    TextAnalysis.saveLmModel(base, s"$dir/model")
    val edges = Sampling.ccnetEdgesOf(base)
    val batch = Sampling.ccnetBuckets(base)
      .select($"doc_id", $"n_bigrams", $"avg_logp", $"bucket")
      .as[(Long, Long, Option[Double], Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    // the value-only live gate can disagree with the rank-based batch
    // assignment ONLY where two docs tie exactly at a band edge —
    // exclude that measure-zero set (identical texts at a tercile cut)
    val edgeScores = edges.as[(Long, Double)].collect().map(_._2).toSet
    val tiedAtEdge = batch.values.filter(r =>
      r._3.exists(edgeScores.contains) &&
        batch.values.count(o => o._3 == r._3) > 1).map(_._1).toSet
    val rows = base.as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.lmGateStream(
        stream.toDF().toDF("doc_id", "text"), s"$dir/model", edges)
      .writeStream.outputMode("update")
      .format("memory").queryName("lm_gate_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("lm_gate_out")
        .as[(Long, Long, Option[Double], Option[Long])].collect()
        .map(r => r._1 -> r).toMap
      val drift = batch.collect { case (id, v)
        if !tiedAtEdge.contains(id) && got.get(id) != Some(v) =>
          (id, v, got.get(id)) }
      assert(drift.isEmpty, s"drift: ${drift.take(5)}")
      assert(tiedAtEdge.size < batch.size / 10,
        s"fixture degenerated: ${tiedAtEdge.size} edge ties")
    } finally q.stop()
  }

  test("frozen dup-span index gates arrivals like batch self-excision (x157 live)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val dir = tempDir("dupspan_idx").toString
    // the frozen corpus repeats one span (h1..h4, docs 1 and 2) and
    // keeps doc 3's passage unique
    val corpus = Seq(
      (1L, "h1 h2 h3 h4 a b c"),
      (2L, "x y h1 h2 h3 h4 z"),
      (3L, "p q r s t u")).toDF("doc_id", "text")
    Dedup.saveDupSpanIndex(corpus, s"$dir/idx")
    // arrivals quote corpus-repeated spans (cut), corpus-unique spans
    // (NOT cut — unique text is not boilerplate), or nothing
    val arrivals = Seq(
      (10L, "w1 h1 h2 h3 h4 w2"),   // quotes the repeated span: cut
      (11L, "p q r s t u"),         // quotes a UNIQUE corpus passage: kept
      (12L, "fresh words only here"))
      .toDF("doc_id", "text")
    // batch truth: self-excision over corpus ∪ arrivals (the corpus
    // keeps every first occurrence, so arrival rows show exactly what
    // the live gate should cut for spans repeated IN THE CORPUS; doc
    // 11's quote of doc 3 becomes a corpus-vs-arrival repeat, which the
    // frozen index cannot know — assert the live face's own contract
    // for it instead)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.exciseStream(
        stream.toDF().toDF("doc_id", "text"), s"$dir/idx")
      .writeStream.outputMode("update")
      .format("memory").queryName("dupspan_out").start()
    try {
      stream.addData(arrivals.as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
      def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val got = spark.table("dupspan_out")
        .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
      assert(got(10L) == ((10L, 6L, 4L, md5("w1 w2"))), s"${got(10L)}")
      assert(got(11L) == ((11L, 6L, 0L, md5("p q r s t u"))), s"${got(11L)}")
      assert(got(12L) == ((12L, 4L, 0L, md5("fresh words only here"))),
        s"${got(12L)}")
    } finally q.stop()
  }

  test("x156 rates drive the live mixer: frozen DoReMi gate admits at the need balance") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val rates = Sampling.doremiRatesOf(base)
    val rateMap = rates.as[(String, Double)].collect().toMap
    // the most-needed domain keeps everything; every rate is a valid
    // admission fraction
    assert(rateMap.values.max == 1.0 && rateMap.values.forall(r => r > 0 && r <= 1.0),
      s"rates not normalized: $rateMap")
    val batch = Sampling.applyRates(
        base.select($"doc_id", $"source"), rates, $"doc_id", "doremi")
      .select($"doc_id", $"source")
      .as[(Long, String)].collect().toSet
    val rows = base.select($"doc_id", $"source").as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.temperatureMixStream(
        stream.toDF().toDF("doc_id", "source"), rates, $"doc_id", "doremi")
      .select($"doc_id", $"source")
      .writeStream.outputMode("append")
      .format("memory").queryName("doremi_mix_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("doremi_mix_out").as[(Long, String)].collect().toSet
      assert(got == batch, s"live admission drifted from batch: " +
        s"${(batch -- got).take(3)} missing, ${(got -- batch).take(3)} extra")
    } finally q.stop()
  }

  test("streaming rate bursts equal batch x126 against the frozen moments") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    val ev = graft.core.Tables.load(spark, sf("sf0.001"), "events")
      .filter($"ts".isNotNull)
    val moments = Analytics.rateMoments(ev)
    val batch = Analytics.rateBursts(ev)
      .as[(String, Long, Long, Option[Double], Long)].collect().toSet
    assert(batch.exists(_._5 == 1L), "vacuous fixture: no burst hour")

    // time-ascending chunks so the watermark closes windows as it
    // advances; a far-future sentinel closes the final real hour (its
    // own window never closes, so it never emits)
    val rows = ev.select($"event_type", $"ts".cast("long"))
      .orderBy($"ts").as[(String, Long)].collect().toSeq
    val sentinel = ("zzz_sentinel", rows.map(_._2).max + 10L * 86400L)
    val stream = MemoryStream[(String, Long)]
    val q = StreamingOps.burstStream(
        stream.toDF().toDF("event_type", "_sec")
          .select($"event_type", $"_sec".cast("timestamp").as("ts")),
        moments)
      .writeStream.outputMode("append")
      .format("memory").queryName("burst_out").start()
    try {
      (rows.grouped((rows.size + 2) / 3).toSeq :+ Seq(sentinel)).foreach {
        chunk => stream.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("burst_out")
        .as[(String, Long, Long, Option[Double], Long)].collect().toSet
      assert(streamed == batch,
        s"missing: ${(batch -- streamed).take(3)}; extra: ${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("x160 allocations drive the live admission gate: per source, replay equals batch x56 at that source's cap") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val plan = Sampling.dataBudget(base)
    val caps = plan.select($"source", $"alloc").as[(String, Double)]
      .collect().map { case (s, a) => s -> math.floor(a).toLong }.toMap
    val docs = base.select($"doc_id", $"source", $"text")
    val rows = docs.as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val stream = MemoryStream[(Long, String, String)]
    val q = StreamingOps.budgetAdmissionStream(
        stream.toDF().toDF("doc_id", "source", "text"), plan)
      .writeStream.outputMode("append")
      .format("memory").queryName("budget_admit_out").start()
    try {
      // in-doc_id-order replay, chunked — the x56 replay contract
      rows.grouped((rows.size + 3) / 4).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("budget_admit_out")
        .as[(Long, String, Long, Long, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      // per source, the stream's decisions equal batch x56 run at that
      // source's own x160 cap
      for ((src, cap) <- caps if cap > 0) {
        val batch = Sampling.tokenBudget(docs.filter($"source" === src), cap)
          .as[(Long, String, Long, Long, Boolean)].collect()
          .map(r => r._1 -> r).toMap
        val mine = got.filter(_._2._2 == src)
        assert(mine == batch,
          s"$src drift: ${batch.collect { case (k, v) if mine.get(k) != Some(v) => (k, v, mine.get(k)) }.take(3)}")
        // and the provisioning bound holds: admitted mass minus the one
        // overflow doc stays under the allocation
        val admitted = mine.values.filter(_._5).toSeq
        if (admitted.nonEmpty) {
          val mass = admitted.map(_._3).sum
          val lastTok = admitted.maxBy(_._1)._3
          assert(mass - lastTok < cap,
            s"$src over-admitted: mass=$mass lastTok=$lastTok cap=$cap")
        }
      }
      // total coverage: every doc got a decision
      assert(got.size == rows.size, s"${got.size} != ${rows.size}")
    } finally q.stop()
  }

  test("streaming token budget equals batch x56 on in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      val batch = Sampling.tokenBudget(docs, Sampling.TokenBudgetPerSource)
        .as[(Long, String, Long, Long, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      assert(batch.values.exists(!_._5), "vacuous fixture: nothing over budget")
      assert(batch.values.exists(_._5), "vacuous fixture: nothing admitted")

      val rows = docs.select($"doc_id", $"source", $"text")
        .orderBy($"doc_id") // the in-order replay contract
        .as[(Long, String, String)].collect().toSeq
      val stream = MemoryStream[(Long, String, String)]
      val q = StreamingOps.tokenBudgetStream(
          stream.toDF().toDF("doc_id", "source", "text"),
          Sampling.TokenBudgetPerSource)
        .writeStream.outputMode("append")
        .format("memory").queryName("budget_out").start()
      try {
        rows.grouped((rows.size + 2) / 3).foreach { chunk =>
          stream.addData(chunk); q.processAllAvailable()
        }
        val streamed = spark.table("budget_out")
          .as[StreamingOps.TokenDecision].collect()
          .map(d => d.doc_id -> ((d.doc_id, d.source, d.n_tokens, d.cum_tokens, d.kept)))
          .toMap
        assert(streamed == batch,
          s"drift: ${batch.collect { case (k, v) if streamed.get(k) != Some(v) => (k, v, streamed.get(k)) }.take(5)}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming label propagation equals batch x138 after full replay") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val edges = graft.operators.WebPrep.linkGraphQuery(spark, sf("sf0.001"))
      val seeds = graft.operators.WebPrep.hostReputation(
          graft.core.Tables.load(spark, sf("sf0.001"), "documents"),
          concat(col("source"), lit(".example.com")))
        .select(col("host"), col("admitted").as("seed")).distinct()
      val batch = graft.operators.WebPrep.labelPropagation(edges, seeds)
        .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap

      val rows = edges.as[(String, String, Long)].collect().toSeq.sorted
      val stream = MemoryStream[(String, String, Long)]
      val q = StreamingOps.labelPropagationStream(
          stream.toDF().toDF("src_host", "dst_host", "n_links"), seeds)
        .writeStream.outputMode("update")
        .format("memory").queryName("lp_out").start()
      try {
        rows.grouped((rows.size + 3) / 4).foreach { chunk =>
          stream.addData(chunk); q.processAllAvailable()
        }
        // latest emission per host: votes only accumulate, so the row
        // with the max (votes_ok + votes_bad) is the final one
        val got = spark.table("lp_out")
          .groupBy($"host")
          .agg(max_by(struct($"seed", $"votes_ok", $"votes_bad", $"propagated"),
            $"votes_ok" + $"votes_bad").as("s"))
          .select($"host", $"s.seed", $"s.votes_ok", $"s.votes_bad", $"s.propagated")
          .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
        assert(got == batch,
          s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming line dedup equals batch x139 against a corpus-built line index") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = tempDir("linestream").toString
    // plant corpus-repeated lines so the boiler set is non-empty
    val b = (1 to 10).map(i => s"bb$i").mkString(" ")
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .limit(40).select($"doc_id",
        when($"doc_id" % 4 === 0, concat(lit(b + " "), $"text"))
          .otherwise($"text").as("text"))
    graft.operators.Dedup.saveLineIndex(base, s"$dir/idx")
    val batch = graft.operators.Dedup.lineDedup(base)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(batch.values.exists(_._3 > 0), "vacuous fixture: nothing dropped")

    val rows = base.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.lineDedupStream(
        stream.toDF().toDF("doc_id", "text"), s"$dir/idx")
      .writeStream.outputMode("append")
      .format("memory").queryName("linededup_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("linededup_out")
        .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
    } finally q.stop()
  }

  test("streaming effective token mass equals batch x136 after full replay") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // sf0.001 carries no exact-dup families, so plant them: 10 echo
      // docs under a DIFFERENT source, exercising the cross-source 1/k
      // credit split (and the retroactive dilution of the originals)
      val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      // plus one NULL-text row: the batch face sheds it implicitly (null
      // md5 key never joins), the live face must tolerate it too rather
      // than throwing at the non-nullable encoder field
      val docs = base.select($"doc_id", $"source", $"text").unionByName(
        base.filter($"doc_id" < 10)
          .select(($"doc_id" + 1000L).as("doc_id"),
            lit("echo_feed").as("source"), $"text"))
        .unionByName(spark.range(1).select(lit(9999L).as("doc_id"),
          lit("null_feed").as("source"), lit(null).cast("string").as("text")))
      val batch = graft.operators.Dedup.effectiveTokens(docs)
        .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap

      val rows = docs
        .orderBy($"doc_id")
        .as[(Long, String, String)].collect().toSeq
      val stream = MemoryStream[(Long, String, String)]
      val q = StreamingOps.effectiveTokensStream(
          stream.toDF().toDF("doc_id", "source", "text"))
        .writeStream.outputMode("update")
        .format("memory").queryName("eff_out").start()
      try {
        rows.grouped((rows.size + 3) / 4).foreach { chunk =>
          stream.addData(chunk); q.processAllAvailable()
        }
        // consumer contract: latest emission per (family, source) — fam
        // only grows, so max-fam is the latest (ties are identical rows)
        val latest = spark.table("eff_out")
          .groupBy($"k", $"source")
          .agg(max_by(struct($"fam", $"n_docs", $"n_tokens"), $"fam").as("s"))
          .select($"source", $"s.fam", $"s.n_docs", $"s.n_tokens")
        val folded = latest
          .select($"source", $"n_docs", $"n_tokens",
            ($"n_tokens" * round(lit(1.0) / $"fam".cast("double"), 6)
              .cast("decimal(18,6)")).as("eff"))
          .groupBy($"source")
          .agg(sum($"n_docs").as("n_docs"),
            sum($"n_tokens").as("tokens_raw"),
            sum($"eff").cast("double").as("tokens_effective"))
          .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
        // non-vacuous: the corpus must actually contain dup families
        assert(spark.table("eff_out").filter($"fam" > 1).count() > 0,
          "vacuous fixture: no family ever exceeded size 1")
        assert(folded == batch,
          s"drift: ${batch.collect { case (k, v) if folded.get(k) != Some(v) => (k, v, folded.get(k)) }.take(5)}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming semantic probe equals batch x170 against the frozen reference index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val dir = tempDir("sem_probe").toString
    val emb = graft.core.Tables.load(spark, sf("sf0.001"), "embeddings")
    val isRef = $"vec_id" % 2 === 0
    Similarity.saveSemRefIndex(emb.filter(isRef), s"$dir/idx")
    val batch = Similarity.semProbeAgainst(emb.filter(!isRef), s"$dir/idx")
      .as[(Long, Long, Long, Long, Option[Long], Option[Double])]
      .collect().toSet
    assert(batch.exists(_._3 > 0L), "no semantic hits — vacuous replay")
    val rows = emb.filter(!isRef).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.semProbeStream(
        stream.toDF().toDF("vec_id", "embedding"), s"$dir/idx")
      .writeStream.outputMode("update")
      .format("memory").queryName("sem_probe_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("sem_probe_out")
        .as[(Long, Long, Long, Long, Option[Long], Option[Double])]
        .collect().toSeq
      // candidates arrive whole, so each verdict key emits exactly once
      assert(got.map(_._1).distinct.size == got.size, "a candidate re-emitted")
      assert(got.toSet == batch,
        s"missing: ${(batch -- got.toSet).take(3)}; extra: ${(got.toSet -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming upset monitor equals batch x172 against the frozen ladder") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    val dir = tempDir("bt_upsets").toString
    val cmp = Analytics.plantedComparisons(spark, sf("sf0.001"))
    Analytics.saveBtStrengths(cmp.select($"winner", $"loser"), s"$dir/l")
    val batch = Analytics.btUpsetsAgainst(cmp,
        spark.read.parquet(graft.core.DeltaIndex.current(spark, s"$dir/l")
          + "/strengths"))
      .as[(Long, Long, Long, Double, Long)].collect().toSet
    assert(batch.exists(_._5 == 1L) && batch.exists(_._5 == 0L))
    val rows = cmp.as[(Long, Long, Long)].collect().toSeq
    val stream = MemoryStream[(Long, Long, Long)]
    val q = StreamingOps.btUpsetStream(
        stream.toDF().toDF("cmp_id", "winner", "loser"), s"$dir/l")
      .writeStream.outputMode("append")
      .format("memory").queryName("bt_upset_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("bt_upset_out")
        .as[(Long, Long, Long, Double, Long)].collect().toSet
      assert(got == batch,
        s"missing: ${(batch -- got).take(3)}; extra: ${(got -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming acceptance gate equals batch x176 against the frozen index (foreachBatch)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val (candDocs, refDocs) = Dedup.plantedCrossCorpus(docs)
    val emb = graft.core.Tables.load(spark, sf("sf0.001"), "embeddings")
    val refIds = docs.filter($"source".isin("src0", "src1"))
      .select($"doc_id".as("vec_id"))
    val dir = tempDir("accept_gate").toString
    Dedup.saveAcceptanceIndex(refDocs,
      emb.join(refIds, Seq("vec_id"), "left_semi"), s"$dir/idx")
    val cands = candDocs.select($"doc_id", $"lang", $"text")
      .join(emb.select($"vec_id".as("doc_id"), $"embedding"), Seq("doc_id"))
    val batch = Dedup.acceptanceGateIndexed(cands, s"$dir/idx", maxDf = 100)
      .as[(Long, Option[Long], Long, Long, String)].collect().toSet
    assert(batch.map(_._5).size > 0 && batch.exists(_._5 != "admit"),
      "no non-admit verdicts — vacuous replay")
    val collected = scala.collection.mutable.Set
      .empty[(Long, Option[Long], Long, Long, String)]
    val gate = StreamingOps.acceptanceGateBatch(s"$dir/idx", maxDf = 100) {
      (out, _) => collected ++=
        out.as[(Long, Option[Long], Long, Long, String)].collect()
    }
    val rows = cands.as[(Long, String, String, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(Long, String, String, Seq[Float])]
    val q = stream.toDF().toDF("doc_id", "lang", "text", "embedding")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        gate(b, id)
      }
      .start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      assert(collected.toSet == batch,
        s"missing: ${(batch -- collected).take(3)}; extra: ${(collected.toSet -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming drift monitor equals batch x178 occupancy histogram on replay (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val emb = graft.core.Tables.load(spark, sf("sf0.001"), "embeddings")
    val isRef = $"vec_id" % 2 === 0
    val dir = tempDir("drift_stream").toString
    Similarity.saveSemRefIndex(emb.filter(isRef), s"$dir/idx")
    val recent = emb.filter(!isRef)
    val batch = Similarity.semRecentCounts(recent, s"$dir/idx")
      .as[(Long, Long)].collect().toMap
    assert(batch.size > 1, "degenerate occupancy — vacuous replay")
    val rows = recent.filter($"embedding".isNotNull)
      .as[(Long, Seq[Float], Int)].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float], Int)]
    val q = StreamingOps.semDriftStream(
        stream.toDF().toDF("vec_id", "embedding", "label"), s"$dir/idx")
      .writeStream.outputMode("complete")
      .format("memory").queryName("drift_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("drift_out").as[(Long, Long)].collect().toMap
      assert(got == batch, s"drift: ${batch.toSet -- got.toSet}")
    } finally q.stop()
  }

  test("streaming calibration monitor equals batch x177 per-bin table on replay (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Analytics
    val events = graft.core.Tables.load(spark, sf("sf0.001"), "events")
      .filter($"event_id".isNotNull && $"user_id".isNotNull)
    val preds = events.select(
      round((($"event_id" % 97) + 0.5) / 97.0, 6).as("conf"),
      when(($"user_id" % 97) < ($"event_id" % 97), 1L).otherwise(0L)
        .as("correct"))
    val batch = Analytics.calibrationBins(preds)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(batch.size > 1, "degenerate bin table — vacuous replay")
    val rows = preds.as[(Double, Long)].collect().toSeq
    val stream = MemoryStream[(Double, Long)]
    val q = StreamingOps.calibrationStream(
        stream.toDF().toDF("conf", "correct"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("calib_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("calib_out")
        .as[(Long, Long, Double, Double, Double)].collect()
        .map(r => r._1 -> r).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(3)}")
    } finally q.stop()
  }

  test("streaming source scorecard equals batch x168 on replay (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val base = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text", $"source")
    val batch = TextAnalysis.sourceScorecard(base)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val rows = base.as[(Long, String, String)].collect().toSeq
    val stream = MemoryStream[(Long, String, String)]
    val q = StreamingOps.sourceScorecardStream(
        stream.toDF().toDF("doc_id", "text", "source"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("scorecard_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      // complete mode rewrites the sink each trigger: the table IS the
      // final scorecard
      val got = spark.table("scorecard_out")
        .collect().map(r => r.getString(0) -> r.toSeq).toMap
      assert(got == batch,
        s"drift: ${batch.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(3)}")
    } finally q.stop()
  }
}
