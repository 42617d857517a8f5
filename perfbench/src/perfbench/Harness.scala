package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's JVM side. It drives the engine only through its public
  * entry points (`SparkEntry.queries`, `core.Tables.load`,
  * `streaming.SensorStream`, `sources.LineStreamSource`), times each
  * call from outside, and writes one JSON
  * document of raw observations; `run.py` turns it into metrics.
  *
  * Arguments are `key=value` pairs; see `run.py` for the full set.
  */
object Harness {
  private val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  private var args: Map[String, String] = Map.empty
  private lazy val traced = args.getOrElse("trace", "0") == "1"
  private var collector: Collector = _
  /** nanoTime at the start of the timed region; every time in the output
    * is in ms relative to it. */
  private var base = 0L
  private def ms(ns: Long): Double = (ns - base) / 1e6

  def main(argv: Array[String]): Unit = {
    args = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = args("workload")
    val out = mutable.LinkedHashMap.empty[String, Any]
    // set-up: everything from process start to the first timed request
    val t0 = System.currentTimeMillis()
    val spark = session()
    val t1 = System.currentTimeMillis()
    val state: Any = workload match {
      case "faces" => conditionFaces(spark, out); setupFaces(spark, out)
      case "ingest" => setupIngest(spark)
    }
    val t2 = System.currentTimeMillis()
    jitSettle()
    val t3 = System.currentTimeMillis()
    out("setup_s") = (t3 - processStartMs) / 1000.0
    out("setup_parts_ms") = Map("jvm" -> (t0 - processStartMs), "session" -> (t1 - t0),
      "warm_up_and_workload" -> (t2 - t1), "jit_settle" -> (t3 - t2))
    if (traced) {
      collector = new Collector
      spark.sparkContext.addSparkListener(collector)
      spark.listenerManager.register(collector)
    }
    base = System.nanoTime()
    out("epoch_at_base_ms") = System.currentTimeMillis()
    workload match {
      case "faces" => runFaces(spark, out)
      case "ingest" => runIngest(spark, state.asInstanceOf[IngestSetup], out)
    }
    out("heap_retained_mb") = RetainedHeap.mb()
    spark.stop()
    Files.writeString(Paths.get(args("out")), Json.render(out))
  }

  private def session(): SparkSession = {
    val s = graft.core.GraftSession.builder("perfbench", Some(args("master")))
      .config("spark.sql.shuffle.partitions", args("cores")).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Warm-up of the face workloads. First every face of the run, once,
    * on the small conditioning tables: the JIT and class loading of the
    * faces' code paths happen here rather than inside whichever face
    * happens to run first, and nothing is reused by the timed runs, whose
    * plans read other files. Then the pad faces (relational faces outside
    * the run that use no shared cache) on the timed tables, which take
    * the first-reader cost of those files. */
  private def conditionFaces(spark: SparkSession, out: mutable.Map[String, Any]): Unit = {
    def warm(names: String, dir: String): Seq[String] = names.split(',').toSeq.flatMap { name =>
      try { noop(graft.SparkEntry.queries(name)(spark, dir)); None }
      catch { case e: Throwable => Some(s"$name: ${String.valueOf(e.getMessage).take(200)}") }
    }
    out("warm_up_errors") = warm(args("faces"), args("warm_tables")) ++ warm(args("pads"), args("tables"))
  }

  /** Waits (at most 10 s) until the JIT compilers have been idle for
    * half a second, so that compilation queued by the warm-up does not
    * compete with the first timed requests for the cores. */
  private def jitSettle(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.currentTimeMillis() + 10000
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 50
      last = now
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def drained(k: String): Counters = {
    org.apache.spark.BusAccess.drain(SparkSession.active.sparkContext)
    collector.harvest(k)
  }

  // ---------------------------------------------------------------- faces

  private def setupFaces(spark: SparkSession, out: mutable.Map[String, Any]): Unit = {
    val t0 = System.nanoTime()
    graft.core.Tables.all.foreach(t => graft.core.Tables.load(spark, args("tables"), t).schema)
    out("tables_load_ms") = (System.nanoTime() - t0) / 1e6
  }

  private def runFaces(spark: SparkSession, out: mutable.Map[String, Any]): Unit = {
    val faces = args("faces").split(',').toSeq
    val sc = spark.sparkContext
    val rows = faces.map { name =>
      val r = mutable.LinkedHashMap[String, Any]("name" -> name)
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(name)(spark, args("tables"))
        val t1 = System.nanoTime()
        if (traced) {
          val b = drained("main")
          r("build_jobs") = b("operators.jobs")
          r("build_layer") = b.v.toMap
        }
        noop(df)
        val t2 = System.nanoTime()
        r("build_ms") = (t1 - t0) / 1e6
        r("total_s") = (t2 - t0) / 1e9
        // outside the timed region: storage the face left behind, then
        // its output digest
        val held = sc.getRDDStorageInfo.filter(_.isCached)
        r("cached_frames_after") = held.length
        r("cached_bytes_after") = held.map(i => i.memSize + i.diskSize).sum
        if (traced) {
          org.apache.spark.BusAccess.drain(sc)
          val plan = phaseWindow(t1, t2)
          val c = collector.harvest("main")
          r("t_ms") = Seq(ms(t0), ms(t1), ms(plan._1), ms(plan._2), ms(t2))
          r("layer") = c.v.toMap
        }
        val (n, digest) = Digest.of(df)
        r("rows") = n
        r("digest") = digest
        if (traced) drained("main") // the digest's own jobs belong to no face
      } catch {
        case e: Throwable =>
          r("error") = String.valueOf(e.getMessage).take(300)
          if (traced) drained("main")
      }
      r
    }
    out("faces") = rows
  }

  /** The plan phase of a face's noop write, as the (start, end) nanoTime
    * window of the optimization and planning phases recorded after the
    * DataFrame was built; an empty window at `t1` if none was recorded. */
  private def phaseWindow(t1: Long, t2: Long): (Long, Long) = {
    val nowNs = System.nanoTime(); val nowMs = System.currentTimeMillis()
    def toNs(ms: Long): Long = nowNs - (nowMs - ms) * 1000000L
    val ws = collector.phases.filter(p => p._1 != "analysis").map(p => (toNs(p._2), toNs(p._3)))
      .filter(w => w._1 >= t1 - 5000000L)
    if (ws.isEmpty) (t1, t1)
    else (math.max(t1, ws.map(_._1).min), math.min(t2, ws.map(_._2).max))
  }

  // --------------------------------------------------------------- ingest

  final case class IngestSetup(dim: DataFrame)

  private def setupIngest(spark: SparkSession): IngestSetup = {
    val dim = graft.pipeline.SensorPipeline.loadDim(spark, args("dim")).cache()
    dim.count()
    IngestSetup(dim)
  }

  final class Call(val query: Int, val batchId: Long, val start: Long, val end: Long,
                   val enterNs: Long) { @volatile var exitNs: Long = -1L }

  /** Offsets WAL entry of a batch: the last line is the source's end
    * offset (a line count). */
  private def walEnd(ckpt: String, batchId: Long): Long =
    if (batchId < 0) 0L
    else Files.readAllLines(Paths.get(s"$ckpt/offsets/$batchId")).asScala
      .filter(_.nonEmpty).last.trim.toLong

  private def publish(from: File, inDir: String): Unit =
    Files.move(from.toPath, Paths.get(inDir, from.getName), StandardCopyOption.ATOMIC_MOVE)

  /** Where the pre-crash stop lands inside the crash batch's upsert call:
    * before anything is staged (the batch's group listing), while the
    * staging write job runs (it leaves a stranded staging directory that
    * the next call's recovery sweeps), or after the call has published
    * the batch into the store but before the stream commits it (the
    * restart replays a batch the store already holds). */
  private val crashPhases = Seq("before_staging", "staging", "published")

  private def runIngest(spark: SparkSession, st: IngestSetup,
                        out: mutable.Map[String, Any]): Unit = {
    val gen = args("ingest"); val work = args("work")
    val inDir = s"$work/in"; val store = s"$work/store"; val ckpt = s"$work/ckpt"
    new File(inDir).mkdirs()
    val maxLines = args("max_lines_per_trigger")
    val crashAt = args("crash_at_batch").toLong
    val crashPhase = args("crash_phase")
    require(crashPhases.contains(crashPhase), s"crash_phase $crashPhase")
    val staging = new File(s"$store._staging_$crashAt")
    val crashPublished = new java.util.concurrent.CountDownLatch(1)
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[Call]()
    val progress = new ProgressLog
    if (traced) spark.streams.addListener(progress)
    val upsert = graft.streaming.SensorStream.upsertBatch(spark, store) _
    def startQuery(no: Int) =
      graft.streaming.SensorStream.transform(
        spark.readStream.format(graft.sources.LineStreamSource.format)
          .option("maxLinesPerTrigger", maxLines).load(inDir), st.dim)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          val c = new Call(no, id, walEnd(ckpt, id - 1), walEnd(ckpt, id), System.nanoTime())
          calls.add(c)
          upsert(b, id)
          c.exitNs = System.nanoTime()
          if (no == 1 && id == crashAt && crashPhase == "published") {
            // hold the published batch uncommitted until the stop
            crashPublished.countDown()
            Thread.sleep(Long.MaxValue)
          }
          ()
        }.start()
    def segs(dir: String): Seq[File] =
      Option(new File(s"$gen/$dir").listFiles()).toSeq.flatten.sortBy(_.getName)

    // pre-crash: run until the crash batch reaches the chosen step of its
    // upsert call, then stop the query there
    segs("pre").foreach(publish(_, inDir))
    val q1 = startQuery(1)
    def crashCall = calls.asScala.find(c => c.query == 1 && c.batchId == crashAt)
    def reached: Boolean = crashPhase match {
      case "before_staging" => crashCall.isDefined
      case "staging" => staging.exists()
      case "published" => crashPublished.getCount == 0
    }
    while (q1.isActive && !reached) Thread.sleep(1)
    // the step the stop actually lands in, as seen from outside
    val landed =
      if (crashCall.exists(_.exitNs > 0)) "published"
      else if (staging.exists()) "staging"
      else if (crashCall.isDefined) "before_staging"
      else "no_batch"
    scala.util.Try { q1.stop(); q1.awaitTermination() }
    val commits = Option(new File(s"$ckpt/commits").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    val lastCommitted = commits.maxOption.getOrElse(-1L)
    out("crash") = Map("batch" -> crashAt, "phase" -> crashPhase, "landed" -> landed,
      "committed" -> commits.contains(crashAt), "staging_left" -> staging.exists())
    val committed = walEnd(ckpt, lastCommitted)
    // backlog written while the stream is down, then catch-up
    segs("backlog").foreach(publish(_, inDir))
    val tRestart = System.nanoTime()
    val q2 = startQuery(2)
    q2.processAllAvailable()
    val tCaught = System.nanoTime()
    // live phase: one generator thread publishes segments on a fixed
    // schedule (open loop), whatever the stream is doing
    val schedule = Files.readAllLines(Paths.get(s"$gen/schedule.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t')).map(a => (a(0), a(1).toDouble))
    val published = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double)]()
    val tLive = System.nanoTime()
    val genThread = new Thread(() => schedule.foreach { case (name, dueMs) =>
      val due = tLive + (dueMs * 1e6).toLong
      var now = System.nanoTime()
      while (now < due) { Thread.sleep(math.max(0L, (due - now) / 1000000L), 0); now = System.nanoTime() }
      publish(new File(s"$gen/live/$name"), inDir)
      published.add((name, ms(due), ms(System.nanoTime())))
    })
    genThread.start(); genThread.join()
    q2.processAllAvailable()
    val tEnd = System.nanoTime()
    q2.stop(); q2.awaitTermination()

    out("committed_at_crash") = committed
    out("restart_ms") = ms(tRestart)
    out("caught_up_ms") = ms(tCaught)
    out("live_start_ms") = ms(tLive)
    out("end_ms") = ms(tEnd)
    out("calls") = calls.asScala.toSeq.map(c => Seq(c.query, c.batchId, c.start, c.end,
      ms(c.enterNs), if (c.exitNs > 0) ms(c.exitNs) else -1.0))
    out("published") = published.asScala.toSeq.map(p => Seq(p._1, p._2, p._3))
    // outside the timed region: the parse layer's dead-letter count over
    // everything the source saw
    out("dead_letter_rows") = graft.pipeline.SensorPipeline
      .parseStrict(spark.read.text(inDir)).filter(col("_violation").isNotNull).count()
    out("store") = store
    out("store_leftovers") = Option(new File(work).listFiles()).toSeq.flatten
      .map(_.getName).filter(n => n.startsWith("store._")).sorted
    if (traced) {
      org.apache.spark.BusAccess.drain(spark.sparkContext)
      out("batches") = progress.progress.toSeq.map { p =>
        mutable.LinkedHashMap[String, Any]("batch_id" -> p.batchId, "input_rows" -> p.inputRows,
          "start_epoch_ms" -> p.startMs, "durations" -> p.durations,
          "layer" -> collector.harvest(s"batch:${p.batchId}").v.toMap)
      }
      out("main_layer") = collector.harvest("main").v.toMap
    }
  }
}

/** Order-insensitive content digest of a face's output: row count plus
  * the sum of per-row xxhash64 values. Floating values are hashed as
  * nine significant digits, so a last-bit difference in a reduction
  * order does not change the digest. */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType => when(c.isNotNull,
      struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _: MapType => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) => (s"c$i", f.dataType) }
    val renamed = df.toDF(cols.map(_._1): _*)
    val h = xxhash64(lit(0) +: cols.map { case (n, t) => norm(col(n), t) }: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))).cast(StringType)).head()
    (r.getLong(0), Option(r.getString(1)).getOrElse("0"))
  }
}

/** Heap the program still holds once the timed region is over: heap in
  * use after a full collection, taken twice so that the objects Spark's
  * context cleaner releases after the first collection are gone too.
  * Heap in use between collections is mostly garbage whose amount depends
  * on collector timing. */
object RetainedHeap {
  def mb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Minimal JSON rendering for the harness output. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => render(o.toString)
  }
}
