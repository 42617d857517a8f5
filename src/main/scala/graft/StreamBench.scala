package graft

import org.apache.spark.sql.SparkSession

/** Streaming throughput benchmark (SURVEY §6's missing number): replay a
  * deterministic sensor NDJSON log through the full streaming pipeline —
  * DSv2 [[graft.sources.LineStreamSource]] with admission control →
  * strict parse → map-probe enrich → rename → idempotent PK-upsert store
  * — and report end-to-end rows/s plus per-batch latency.
  *
  * The reference's hop-2 ceiling is one synchronous INSERT round-trip
  * per record (unimib-simpss cassandra_storage.py:88 executes per-row
  * with auto-commit): ~1/RTT rows/s regardless of hardware. This
  * measures our counterpart on the only comparable axis — records into
  * a durable, PK-deduplicated store per second — where every micro-batch
  * is one partition-pruned merge of thousands of records.
  *
  * The run RESTARTS MID-STREAM by design: phase 1 stops after a few
  * micro-batches (strictly before the log drains), phase 2 resumes from
  * the checkpoint and finishes. The committed throughput number is
  * therefore also a liveness proof of exactly-once recovery — the final
  * store must hold exactly the expected distinct-PK count (the generator
  * plants a known 10% duplicate-PK fraction that last-write-wins must
  * collapse), or the record reports ok=false.
  *
  * Scale: line count is FIXED (not SF-scaled) so the number is
  * comparable across rounds; the per-batch admission cap yields ~16
  * batches, the shape a broker-fed deployment sees, not one giant batch.
  */
object StreamBench {

  /** Total generated wire records (fixed across rounds for comparability). */
  val Lines = 200000
  /** Admission cap per micro-batch (R5 backpressure face) — ~16 batches. */
  val LinesPerTrigger = 12500L
  /** Every 10th line re-emits the previous line's PK with a later seq:
    * last-write-wins must collapse these, so expected store rows =
    * Lines - Lines/10. */
  val DupEvery = 10
  /** Phase 1 stops once this many micro-batches committed (mid-run). */
  val RestartAfterBatches = 3

  final case class Result(ok: Boolean, rows: Long, batches: Long,
                          elapsedSec: Double, rowsPerSec: Double,
                          batchMsAvg: Double, restartedMidRun: Boolean,
                          calibSec: Double = -1.0,
                          rowsPerSecAttested: Double = -1.0,
                          attestFactor: Double = 1.0,
                          extShare: Double = -1.0,
                          gcShare: Double = -1.0,
                          ioShare: Double = -1.0)

  /** Deterministic wire-JSON generator: PK j advances on non-dup lines
    * (unique (sensor, time) per j), field values are fixed functions of
    * j, seq is the global line index (so the planted dup of a PK always
    * carries the LARGER seq and wins last-write-wins). */
  private[graft] def genLines(n: Int, ids: IndexedSeq[Int]): Iterator[String] = {
    val base = java.time.LocalDateTime.of(2024, 3, 1, 0, 0, 0)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    (0 until n).iterator.map { i =>
      val j = if (i % DupEvery == DupEvery - 1) i - 1 else i
      val id = ids(j % ids.size)
      val t = base.plusSeconds((j / ids.size).toLong)
      s"""{"id":$id,"uptime":${j % 100000},"T":${j % 80 - 20},"P":${950 + j % 100},""" +
        s""""H":${j % 100},"Ix":${j % 201 - 100},"Iy":${(j * 7) % 201 - 100},""" +
        s""""Iz":${(j * 13) % 201 - 100},"M":${j % 256},""" +
        s""""time_received":"${t.format(fmt)}","seq":$i}"""
    }
  }

  /** Distinct PKs the generator emits for `n` lines (every DupEvery-th
    * line re-uses the previous PK). */
  private[graft] def expectedRows(n: Int): Long = (n - n / DupEvery).toLong

  /** `attestRef`: the session's best observed calibration-probe time
    * (Bench passes its run-wide [[Bench.attestRef]]; without one the
    * better of this run's own sandwich probes is the reference). The
    * timed region runs inside the query bench's probe
    * ([[Bench.timed]]), and the record carries both the raw rows/s and
    * the contention-adjusted [[Bench.attestedRate]] — so a
    * round-over-round throughput drop is adjudicable from the committed
    * record alone (the r17 gap this closes). */
  def run(spark: SparkSession, lines: Int = Lines,
          linesPerTrigger: Long = LinesPerTrigger,
          attestRef: Double = -1.0): Result = {
    val base = java.nio.file.Files.createTempDirectory("graft-streambench").toString
    try {
      val inDir = s"$base/in"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
      new java.io.File(inDir).mkdirs()

      val dim = graft.pipeline.SensorPipeline.loadDim(spark, Fixtures.sensorDim)
      val ids = dim.select("sensor_id").collect().map(_.getInt(0)).sorted.toIndexedSeq

      // 4 immutable segment files (the log-segment lifecycle the source
      // contracts on). Generation is outside the timed region.
      val perSeg = (lines + 3) / 4
      genLines(lines, ids).grouped(perSeg).zipWithIndex.foreach { case (seg, i) =>
        val w = java.nio.file.Files.newBufferedWriter(
          java.nio.file.Paths.get(f"$inDir%s/seg-$i%03d.ndjson"))
        try { seg.foreach { l => w.write(l); w.newLine() } } finally w.close()
      }

      val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
      val batchMs = new java.util.concurrent.atomic.AtomicLong(0L)
      def startQuery() = {
        val upsert = graft.streaming.SensorStream.upsertBatch(spark, store) _
        graft.streaming.SensorStream.transform(
            spark.readStream.format(graft.sources.LineStreamSource.format)
              .option("maxLinesPerTrigger", linesPerTrigger.toString)
              .load(inDir),
            dim)
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            val t0 = System.nanoTime()
            upsert(b, id)
            batchMs.addAndGet((System.nanoTime() - t0) / 1000000)
            nBatches.incrementAndGet()
            ()
          }
          .start()
      }

      // the probe's shares integrate over the ENTIRE timed region — its
      // sandwich only samples the edges, and a 35 s stream leaves a lot
      // of middle
      val (phase1Batches, p) = Bench.timed(spark) {
        // phase 1: stop mid-run, strictly before the log drains. stop()
        // can interrupt an in-flight upsert — that is the point (the
        // crash-safe store recovers and the checkpoint replays the
        // batch in phase 2).
        val q1 = startQuery()
        val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
        while (nBatches.get() < RestartAfterBatches && q1.isActive &&
          System.nanoTime() < deadline) Thread.sleep(20)
        scala.util.Try { q1.stop(); q1.awaitTermination() }
        val phase1 = nBatches.get()
        // phase 2: resume from the checkpoint, drain the rest
        val q2 = startQuery()
        q2.processAllAvailable()
        q2.stop(); q2.awaitTermination()
        phase1
      }
      // the worse sandwich side is the run's calibration; the reference
      // is the best probe known — the session-wide one when Bench drives
      // this run
      val ref = (Seq(attestRef, p.calibPre, p.calibPost).filter(_ > 0) :+ p.calib).min

      val stored = spark.read.parquet(store).count()
      val expected = expectedRows(lines)
      // the mid-run restart only counts if phase 1 really stopped early
      val restartedMidRun = phase1Batches > 0 &&
        phase1Batches * linesPerTrigger < lines.toLong
      val rate = if (p.elapsed > 0) lines / p.elapsed else -1.0
      Result(
        ok = stored == expected && restartedMidRun,
        rows = stored,
        batches = nBatches.get(),
        elapsedSec = p.elapsed,
        rowsPerSec = rate,
        batchMsAvg = if (nBatches.get() > 0) batchMs.get().toDouble / nBatches.get() else -1.0,
        restartedMidRun = restartedMidRun,
        calibSec = p.calib,
        rowsPerSecAttested = Bench.attestedRate(rate, p.calib, ref),
        attestFactor = Bench.rateAttestFactor(p.calib, ref),
        extShare = p.ext, gcShare = p.gc, ioShare = p.io)
    } finally {
      val dir = new org.apache.hadoop.fs.Path(base)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    }
  }

  def record(r: Result): String = {
    import Bench.fmt
    s"""{"metric":"stream_rows_per_sec","value":${fmt(r.rowsPerSec, "%.1f")},""" +
      s""""value_attested":${fmt(r.rowsPerSecAttested, "%.1f")},""" +
      s""""attest_factor":${fmt(r.attestFactor)},""" +
      s""""calib_sec":${fmt(r.calibSec)},""" +
      s""""ext_share":${fmt(r.extShare)},"gc_share":${fmt(r.gcShare)},""" +
      s""""iowait_share":${fmt(r.ioShare)},""" +
      s""""unit":"rows/sec","ok":${r.ok},"rows":${r.rows},""" +
      s""""batches":${r.batches},"elapsed_sec":${fmt(r.elapsedSec, "%.1f")},""" +
      s""""batch_ms_avg":${fmt(r.batchMsAvg, "%.1f")},""" +
      s""""restarted_mid_run":${r.restartedMidRun}}"""
  }
}
