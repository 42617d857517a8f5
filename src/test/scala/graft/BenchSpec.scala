package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for Bench's self-attestation pieces: loadavg parsing,
  * the contention retry decision, and that the calibration probe runs
  * and returns a positive elapsed time on the shared session.
  */
class BenchSpec extends AnyFunSuite with SparkSpec {

  /** One measured attempt: both calibration sides at `calib`, the given
    * region shares. */
  private def attempt(calib: Double = 0.1, ext: Double = 0.0, gc: Double = 0.0,
                      io: Double = 0.0): Bench.Probe =
    Bench.Probe(elapsed = 10.0, calibPre = calib, calibPost = calib, ext, gc, io)

  test("parseLoadAvg reads the 1-minute field of /proc/loadavg content") {
    assert(Bench.parseLoadAvg("0.52 0.58 0.59 1/1262 41733\n") == 0.52)
    assert(Bench.parseLoadAvg("17.25 12.00 8.50 5/999 1") == 17.25)
    assert(Bench.parseLoadAvg("") == -1.0)
    assert(Bench.parseLoadAvg("garbage line") == -1.0)
  }

  test("readLoadAvg returns a non-negative load on Linux") {
    // The sandbox is Linux; on other platforms readLoadAvg degrades to -1.
    assert(Bench.readLoadAvg() >= -1.0)
  }

  test("shouldRetry fires only on poisoned calibrations with attempts left") {
    val baseline = 0.1
    // Clean attempt: never retry.
    assert(!Bench.shouldRetry(attempt(calib = 0.15), baseline, attempt = 1))
    // Poisoned (>3x baseline) with attempts left: retry.
    assert(Bench.shouldRetry(attempt(calib = 0.5), baseline, attempt = 1))
    assert(Bench.shouldRetry(attempt(calib = 0.5), baseline, attempt = Bench.MaxAttempts - 1))
    // Poisoned but attempts exhausted: stop (the result gets flagged
    // contended instead).
    assert(!Bench.shouldRetry(attempt(calib = 0.5), baseline, attempt = Bench.MaxAttempts))
    assert(Bench.contended(0.5, 0.0, 0.0, 0.0, baseline))
    // Exactly at the threshold is not poisoned.
    assert(!Bench.shouldRetry(attempt(calib = baseline * Bench.ContendedFactor), baseline,
      attempt = 1))
    assert(!Bench.contended(baseline * Bench.ContendedFactor, 0.0, 0.0, 0.0, baseline))
    // The attempt's calibration is the WORSE sandwich side: a poisoned
    // post-probe alone poisons the attempt.
    assert(Bench.shouldRetry(attempt().copy(calibPost = 0.5), baseline, attempt = 1))
  }

  test("a mid-query CPU hog invisible to the probe sandwich is flagged by external share") {
    // The r5 x02 scenario: probes at both edges are clean (calibration
    // passes), but another process burned CPU strictly inside the timed
    // region. 10s on 32 cores at USER_HZ=100 → 32,000 jiffies capacity;
    // this JVM used 20,000, the machine 28,000 → 25% external.
    val ext = Bench.externalShare(
      machineBusyDelta = 28000, selfDelta = 20000, elapsedSec = 10.0, cores = 32)
    assert(math.abs(ext - 0.25) < 1e-9)
    assert(ext > Bench.ExternalShareMax)
    assert(Bench.shouldRetry(attempt(ext = ext), 0.1, attempt = 1),
      "poisoned middle run must retry")
    assert(!Bench.shouldRetry(attempt(ext = ext), 0.1, attempt = Bench.MaxAttempts),
      "attempts exhausted: stop and flag contended instead")
    assert(Bench.contended(0.1, ext, 0.0, 0.0, baseline = 0.1))
    // A quiet run (all busy jiffies are ours) is not flagged.
    val quiet = Bench.externalShare(20100, 20000, 10.0, 32)
    assert(quiet < Bench.ExternalShareMax && !Bench.shouldRetry(attempt(ext = quiet), 0.1, 1))
    assert(!Bench.contended(0.1, quiet, 0.0, 0.0, baseline = 0.1))
    // Sampling skew never yields a negative share.
    assert(Bench.externalShare(19900, 20000, 10.0, 32) == 0.0)
  }

  test("proc stat parsers extract busy, self, and iowait jiffies") {
    val stat = "cpu  100 5 50 10000 200 0 25 0 0 0\ncpu0 10 1 5 1000 20 0 2 0 0 0\n"
    // busy = 100+5+50+0+25 (idle=10000 and iowait=200 excluded)
    assert(Bench.parseProcStat(stat) == 180.0)
    assert(Bench.parseProcStat("") == -1.0)
    assert(Bench.parseIowait(stat) == 200.0)
    assert(Bench.parseIowait("") == -1.0)
    // comm with spaces and parens — parse anchors on the LAST ')'
    val self = "42 (java (forked)) S 1 42 42 0 -1 4194560 500 0 1 0 777 333 0 0 20 0 33 0 100 0 0"
    assert(Bench.parseSelfStat(self) == 777.0 + 333.0)
    assert(Bench.parseSelfStat("garbage") == -1.0)
    // live read works on the sandbox (Linux)
    val (mb, sj, io) = Bench.readCpuJiffies()
    assert(mb > 0 && sj > 0 && io >= 0)
  }

  test("guest jiffies are not double-counted as busy time") {
    // The kernel folds guest/guest_nice (fields 9/10) into user/nice;
    // summing them again would double-bill VM guests and fake external
    // CPU. user=1000 already CONTAINS guest=900: busy must be
    // 1000+5+50+25 = 1080, not 1980.
    val vm = "cpu  1000 5 50 10000 200 0 25 0 900 0\n"
    assert(Bench.parseProcStat(vm) == 1080.0)
  }

  test("a memory-pressure-stalled run invisible to CPU signals is flagged by gc/iowait share") {
    // The r6 x39 scenario: driver reported 15.7s against a real ~4.4s
    // with calibration sandwich AND external-CPU both green — nothing
    // else burned CPU; the run itself was stalled. Synthetic attempt:
    // 10s elapsed, 4s of GC pauses → 40% gc share, over budget.
    val gc = Bench.gcShare(gcMillisDelta = 4000, elapsedSec = 10.0)
    assert(math.abs(gc - 0.4) < 1e-9 && gc > Bench.GcShareMax)
    assert(Bench.shouldRetry(attempt(gc = gc), 0.1, attempt = 1),
      "gc-poisoned attempt must retry")
    assert(!Bench.shouldRetry(attempt(gc = gc), 0.1, attempt = Bench.MaxAttempts),
      "attempts exhausted: stop and flag contended instead")
    assert(Bench.contended(0.1, 0.0, gc, 0.0, baseline = 0.1))
    // Disk-stall face: 10s on 32 cores = 32,000 jiffies capacity, 8,000
    // of them iowait → 25% of the machine waiting on disk.
    val io = Bench.iowaitShare(iowaitDelta = 8000, elapsedSec = 10.0, cores = 32)
    assert(math.abs(io - 0.25) < 1e-9 && io > Bench.IowaitShareMax)
    assert(Bench.shouldRetry(attempt(io = io), 0.1, attempt = 1),
      "io-poisoned attempt must retry")
    assert(Bench.contended(0.1, 0.0, 0.0, io, baseline = 0.1))
    // A healthy attempt (3% GC, 1% iowait) is not flagged.
    val healthy = attempt(gc = Bench.gcShare(300, 10.0), io = Bench.iowaitShare(320, 10.0, 32))
    assert(!Bench.shouldRetry(healthy, 0.1, attempt = 1))
    assert(!Bench.contended(0.1, 0.0, healthy.gc, healthy.io, baseline = 0.1))
    // Missing inputs propagate -1, never a spurious flag.
    assert(Bench.gcShare(-1, 10.0) == -1.0)
    assert(Bench.iowaitShare(-1, 10.0, 32) == -1.0)
    assert(!Bench.shouldRetry(attempt(ext = -1.0, gc = -1.0, io = -1.0), 0.1, attempt = 1))
    assert(!Bench.contended(0.1, -1.0, -1.0, -1.0, baseline = 0.1))
  }

  test("calibration probe runs on a live session and reports elapsed seconds") {
    val secs = Bench.calibrate(spark)
    assert(secs > 0.0 && secs < 60.0)
    // the timed-region probe around a 50 ms body: the body's own value
    // comes back, both sandwich sides ran, and every share is a
    // fraction or the -1 "unreadable" sentinel
    val (out, p) = Bench.timed(spark) { Thread.sleep(50); "body" }
    assert(out == "body")
    assert(p.elapsed >= 0.05, p)
    assert(p.calibPre > 0.0 && p.calibPost > 0.0, p)
    assert(p.calib == math.max(p.calibPre, p.calibPost), p)
    for (share <- Seq(p.ext, p.gc, p.io))
      assert(share == -1.0 || (share >= 0.0 && share <= 1.0), p)
  }

  test("delivery flat ratio: mean of the last two points over the mean of the first two") {
    assert(DeliveryBench.flatRatio(Nil) == -1.0)
    assert(DeliveryBench.flatRatio(Seq(1.0, 2.0, 3.0)) == -1.0, "fewer than 4 points")
    assert(DeliveryBench.flatRatio(Seq(1.0, 1.0, 1.0, 1.0)) == 1.0)
    // (5 + 7) / 2 over (2 + 4) / 2: the middle points do not count
    assert(DeliveryBench.flatRatio(Seq(2.0, 4.0, 50.0, 0.5, 5.0, 7.0)) == 2.0)
    // the record prints it at two decimals, -1 when undefined
    val rec = DeliveryBench.record(DeliveryBench.Result(deliveries = 4,
      buildSec = 1.0, perSec = Seq(2.0, 4.0, 5.0, 7.0), perBytes = Seq(10L, 20L, 30L),
      perAdmitted = Seq(1L, 1L, 1L, 1L), driftFlags = 0, ok = true))
    assert(rec.contains("\"flat_ratio_sec\":2.00,\"flat_ratio_bytes\":-1.00,"), rec)
  }

  test("compact final line fits the driver's 2KB tail at the real query count") {
    // The real names at the real count: the bound must hold for exactly
    // what main() will print, so build the line from SparkEntry.queries.
    // compactLine is self-bounding (3 sig digits -> 2 -> contended
    // truncation), so the assertion is on the EMITTED line under
    // worst-case value widths, not on a hoped-for typical width.
    val names = SparkEntry.queries.keys.toSeq.sorted
    // worst-realistic extra payload: everything main() can append — the
    // streaming record with its attested twin and factor, the four ANN
    // recalls, the IVF nProbe sweep, and the delivery-loop fields
    val extra = Seq(
      "stream_rows_per_sec" -> "123456.7",
      "stream_rows_per_sec_attested" -> "123456.7",
      "stream_attest_factor" -> "2.00",
      "stream_batches" -> "1234",
      "stream_rows" -> "12345678", "stream_restarted" -> "true",
      "recall_ivf" -> "0.8300", "recall_lsh" -> "0.7200",
      "recall_quant_knn" -> "1.0000", "recall_x140_jl_knn" -> "0.7800",
      "recall_ivf_np1" -> "0.3900", "recall_ivf_np2" -> "0.5400",
      "recall_ivf_np4" -> "0.8300",
      "dlv_sec" -> Seq.fill(8)("12.3").mkString("[", ",", "]"),
      "dlv_flat_sec" -> "1.05", "dlv_flat_bytes" -> "1.09",
      "dlv_ok" -> "true")
    val line = Bench.compactLine(
      total = 123.4567,
      attested = 98.7654,
      queries = names.map(_ -> 0.77345), // typical sub-second width
      contendedNames = names.take(3),    // a few flagged entries
      baselineSuspect = false,
      sfDir = "/root/testdata/sf0.1",
      extra = extra)
    assert(line.getBytes("UTF-8").length <= Bench.CompactLineBudget,
      s"compact bench line is ${line.length} bytes; driver tail keeps 2000")
    assert(line.startsWith("""{"metric":"total","""))
    assert(line.contains("\"value_attested\":98.7654"),
      "attested total must reach the driver-tailed line")
    assert(line.contains("\"stream_rows_per_sec\":123456.7"),
      "extra fields must ride the compact line")
    assert(line.contains("\"sf\":\"sf0.1\""), "sf should be the basename")
    // Worst case: every value at %g's widest form (8 chars, "0.000773")
    // and many contended names. The adaptive tiers must still fit.
    val worst = Bench.compactLine(
      total = 123.4567,
      attested = 123.4567,
      queries = names.map(_ -> 0.00077345),
      contendedNames = names, // pathological: everything flagged
      baselineSuspect = false,
      sfDir = "/root/testdata/sf0.1",
      extra = extra)
    assert(worst.getBytes("UTF-8").length <= Bench.CompactLineBudget,
      s"worst-case compact line is ${worst.length} bytes")
    assert(worst.contains("\"value_attested\":") &&
      worst.contains("\"stream_rows_per_sec\":"),
      "attestation and extra fields must survive every degradation tier")
    // Slow-query values stay short too: significant digits, not decimals.
    val slow = Bench.compactLine(99.1, 99.1, Seq("q" -> 99.1234), Nil, false, "sf0.1")
    assert(slow.contains("\"q\":99.1"))
    // At a small query count nothing degrades: full 3-sig-digit values.
    val small = Bench.compactLine(1.0, 1.0, Seq("q" -> 0.77345), Nil, false, "sf0.1")
    assert(small.contains("\"q\":0.773"))
  }

  test("attested time deflates by the calibration ratio and never inflates") {
    // The r10 shape: a uniform 1.4x load — calib 0.14 vs quiet ref 0.10
    // — trips no retry threshold but inflates every query 1.4x. The
    // attested time divides the measured slowdown back out.
    val t = Bench.attestedTime(warm = 1.4, calib = 0.14, ref = 0.10)
    assert(math.abs(t - 1.0) < 1e-9, s"expected ~1.0, got $t")
    // A quiet query (calib == ref) passes through untouched.
    assert(Bench.attestedTime(2.0, 0.10, 0.10) == 2.0)
    // calib below ref (can't happen by construction of attestRef, but
    // guard anyway): never inflate.
    assert(Bench.attestedTime(2.0, 0.08, 0.10) == 2.0)
    // Failure and missing-signal sentinels pass through.
    assert(Bench.attestedTime(-1.0, 0.14, 0.10) == -1.0)
    assert(Bench.attestedTime(2.0, -1.0, 0.10) == 2.0)
    assert(Bench.attestedTime(2.0, 0.14, -1.0) == 2.0)
  }

  test("attested rate inflates by the calibration ratio and never deflates") {
    // The r17 shape: stream_rows_per_sec measured under a 1.4x load —
    // the quiet-machine estimate multiplies the slowdown back in.
    val r = Bench.attestedRate(rate = 4000.0, calib = 0.14, ref = 0.10)
    assert(math.abs(r - 5600.0) < 1e-6, s"expected ~5600, got $r")
    // Quiet run (calib == ref) passes through untouched; a calib below
    // ref never DEFLATES the measured rate (adjust-up-only, the mirror
    // of attestedTime's deflate-only contract).
    assert(Bench.attestedRate(4000.0, 0.10, 0.10) == 4000.0)
    assert(Bench.attestedRate(4000.0, 0.08, 0.10) == 4000.0)
    // Failure and missing-signal sentinels pass through.
    assert(Bench.attestedRate(-1.0, 0.14, 0.10) == -1.0)
    assert(Bench.attestedRate(4000.0, -1.0, 0.10) == 4000.0)
    assert(Bench.attestedRate(4000.0, 0.14, -1.0) == 4000.0)
  }

  test("attested rate is capped: the multiplier never exceeds RateAttestCap") {
    // The r18 shape: a 5.16x calib/ref ratio published 30,783 rows/s
    // from 5,967 raw — mostly model. The cap saturates the adjustment
    // and the factor field carries the evidence.
    val raw = 5967.0
    val r = Bench.attestedRate(raw, calib = 0.516, ref = 0.10)
    assert(r == raw * Bench.RateAttestCap, s"expected capped, got $r")
    assert(Bench.rateAttestFactor(0.516, 0.10) == Bench.RateAttestCap)
    // below the cap the linear model still applies
    assert(math.abs(Bench.attestedRate(4000.0, 0.14, 0.10) - 5600.0) < 1e-6)
    assert(math.abs(Bench.rateAttestFactor(0.14, 0.10) - 1.4) < 1e-9)
    // quiet / missing signals: factor 1
    assert(Bench.rateAttestFactor(0.10, 0.10) == 1.0)
    assert(Bench.rateAttestFactor(-1.0, 0.10) == 1.0)
    // the invariant the record reader relies on, for any inputs:
    // attested <= cap * raw
    for (calib <- Seq(-1.0, 0.05, 0.1, 0.2, 0.6, 3.0);
         ref <- Seq(-1.0, 0.05, 0.1))
      assert(Bench.attestedRate(raw, calib, ref) <=
        Bench.RateAttestCap * raw + 1e-9, s"calib=$calib ref=$ref")
  }

  test("stream record carries the attested value, factor, and calibration") {
    val rec = StreamBench.record(StreamBench.Result(ok = true, rows = 10,
      batches = 2, elapsedSec = 1.0, rowsPerSec = 10.0, batchMsAvg = 5.0,
      restartedMidRun = true, calibSec = 0.14, rowsPerSecAttested = 14.0,
      attestFactor = 1.4))
    assert(rec.contains("\"value\":10.0"), rec)
    assert(rec.contains("\"value_attested\":14.0"), rec)
    assert(rec.contains("\"attest_factor\":1.4000"), rec)
    assert(rec.contains("\"calib_sec\":0.1400"), rec)
  }

  test("attestation reference is the best probe seen anywhere in the run") {
    // Session start already loaded (baseline 0.3) but one mid-run quiet
    // moment (0.1) reveals true capability — the ref must find it.
    assert(Bench.attestRef(0.3, Seq(0.2, 0.1, 0.25)) == 0.1)
    // Start-quiet case: the baseline itself is the ref.
    assert(Bench.attestRef(0.1, Seq(0.2, 0.15)) == 0.1)
    // Invalid calibs are ignored; all-invalid yields the -1 sentinel.
    assert(Bench.attestRef(0.1, Seq(-1.0)) == 0.1)
    assert(Bench.attestRef(-1.0, Seq(-1.0)) == -1.0)
  }

  test("compact line last resort truncates the query map instead of overflowing") {
    // giant-SF shape: hundreds of wide values — no full-map tier fits,
    // so the slowest entries survive and the cut is recorded
    val many = (1 to 300).map(i => f"query_with_a_long_name_$i%03d" -> (1000.0 + i))
    val line = Bench.compactLine(300000.0, 300000.0, many, Nil, false, "sf100")
    assert(line.getBytes("UTF-8").length <= Bench.CompactLineBudget,
      s"last-resort line is ${line.length} bytes")
    assert(line.contains("\"queries_omitted\":"), "cut must be declared")
    // the slowest query survives the cut
    assert(line.contains("query_with_a_long_name_300"))
  }

  test("machine cores come from /proc/stat cpuN lines, not the cgroup view") {
    val stat =
      """cpu  100 0 50 1000 20 0 0 0 0 0
        |cpu0 25 0 12 250 5 0 0 0 0 0
        |cpu1 25 0 12 250 5 0 0 0 0 0
        |cpu2 25 0 13 250 5 0 0 0 0 0
        |cpu3 25 0 13 250 5 0 0 0 0 0
        |intr 12345
        |ctxt 6789""".stripMargin
    assert(Bench.parseMachineCores(stat) == 4)
    assert(Bench.parseMachineCores("garbage") == 0)
    // the aggregate "cpu " line must not count as a core
    assert(Bench.parseMachineCores("cpu  1 2 3\n") == 0)
  }

  test("compact line formats locale-independently and handles NaN") {
    val line = Bench.compactLine(1.5, 1.5, Seq("q" -> Double.NaN), Nil, true, "sf")
    assert(line.contains("\"q\":-1"))
    assert(line.contains("\"baseline_suspect\":true"))
    // value uses a dot decimal separator regardless of default locale
    assert(line.contains("\"value\":1.5000") && !line.contains("1,5000"))
  }

  test("stream bench: deterministic generator, planted dups, exact expected rows") {
    val ids = (100 to 139).toIndexedSeq
    val lines = StreamBench.genLines(100, ids).toSeq
    // deterministic: same call, same lines
    assert(lines == StreamBench.genLines(100, ids).toSeq)
    // every 10th line re-emits the previous PK with a later seq
    assert(lines(9).contains("\"seq\":9"))
    val pk = (s: String) => s.replaceAll(""".*"id":(\d+).*"time_received":"([^"]+)".*""", "$1|$2")
    assert(pk(lines(8)) == pk(lines(9)), "planted dup must share the PK")
    assert(pk(lines(7)) != pk(lines(8)), "non-dup neighbors must differ")
    assert(StreamBench.expectedRows(100) == 90)
    // wire arity: exactly the 11 wire keys, parseable by the pipeline
    val parsed = graft.pipeline.SensorPipeline.parseStrict(
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("value"))
    assert(parsed.filter(org.apache.spark.sql.functions.col("_violation").isNotNull).isEmpty,
      "generator emitted records the strict parser rejects")
  }

  test("stream bench end-to-end at toy scale: exactly-once through a mid-run restart") {
    def benchDirs(): Set[String] = graft.core.Fs
      .listOrThrow(new java.io.File(System.getProperty("java.io.tmpdir")))
      .map(_.getName).filter(_.startsWith("graft-streambench")).toSet
    val before = benchDirs()
    val r = StreamBench.run(spark, lines = 2000, linesPerTrigger = 150L)
    assert((benchDirs() -- before).isEmpty, "the run left its temp dir behind")
    assert(r.restartedMidRun, "phase 1 drained the whole log before the restart")
    assert(r.rows == StreamBench.expectedRows(2000),
      s"store rows ${r.rows} != expected ${StreamBench.expectedRows(2000)}")
    assert(r.ok && r.batches > 0 && r.rowsPerSec > 0)
  }

  test("baseline ceiling bounds a contended-at-start calibration") {
    // The effective baseline decision: with a clamped baseline, a calib
    // probe that is merely as slow as the inflated measurement is still
    // flagged for retry.
    val clamped = math.min(12.0, Bench.BaselineCeiling)
    assert(clamped == Bench.BaselineCeiling)
    assert(Bench.shouldRetry(attempt(calib = 12.0), baseline = clamped, attempt = 1))
  }
}
