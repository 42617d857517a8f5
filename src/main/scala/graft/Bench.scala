package graft

import graft.core.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints per-query seconds as JSON. TWO lines go
  * to stdout: first the full self-attested record (calibrations, loads,
  * attempts — ~4.5 KB), then a COMPACT line (total + per-query seconds,
  * ~1.2 KB) printed LAST so any tail-capture window >= 2 KB keeps the
  * per-query numbers (round 4's attested record outgrew the driver's
  * 2 KB tail and the committed bench lost its timings).
  * Each query is fully materialized via a noop-format write of its final
  * (ordered) result. A session-warmup query runs first so JVM/codegen
  * startup is not billed to the first benchmark entry.
  *
  * Self-attestation against machine contention: committed BENCH records
  * in earlier rounds misstated the engine by 30-45x because other
  * processes were saturating the machine while the bench ran. Each
  * query now carries its own evidence of measurement conditions:
  *
  *  - a fixed CPU-bound calibration job (32-partition range-sum sized to
  *    ~100ms on a quiet machine) runs immediately before AND after every
  *    query attempt — the sandwich means contention alive at either edge
  *    of the query is caught by a probe;
  *  - external-CPU attribution: machine busy jiffies (/proc/stat) minus
  *    this JVM's jiffies (/proc/self/stat), integrated over the timed
  *    region — a hog that starts AND stops strictly inside a long query
  *    is invisible to both probes (round 5's driver record carried
  *    x02=20.6s vs a real 2.27s that way) but cannot hide from the
  *    jiffy integral; attempts whose external share exceeds
  *    [[Bench.ExternalShareMax]] retry and flag exactly like poisoned
  *    calibrations;
  *  - NON-CPU attribution: GC-pause share (GarbageCollectorMXBean) and
  *    machine iowait share (/proc/stat field 5) over the same region —
  *    memory pressure or page-cache eviction stretches wall time with
  *    no external CPU burn (the r6 driver's x39=15.7s vs real ~4.4s
  *    passed both CPU signals); over [[Bench.GcShareMax]] /
  *    [[Bench.IowaitShareMax]] retries and flags the same way;
  *  - /proc/loadavg is sampled at each query's start and end;
  *  - a query attempt whose worse calibration side exceeds
  *    [[Bench.ContendedFactor]]x the session-start baseline is treated as
  *    poisoned and retried (up to [[Bench.MaxAttempts]] total attempts,
  *    with a short sleep so a transient spike can pass); the reported
  *    time is the min over all attempts, and queries whose BEST attempt
  *    was still contended (by either signal) are listed in a "contended"
  *    field so a reader knows exactly which entries not to trust;
  *  - the session baseline itself is sanity-checked: the probe is fixed
  *    work, so a baseline above [[Bench.BaselineCeiling]] means the
  *    machine was already contended at calibration time. The EFFECTIVE
  *    baseline for retry/flag decisions is clamped to the ceiling
  *    (otherwise an inflated baseline would silently disable the
  *    detector), and the record carries `baseline_suspect: true`;
  *  - BOTH stdout lines carry `value_attested`: the total with each
  *    query deflated by its own calibration's slowdown against the
  *    run's best observed probe ([[Bench.attestedTime]]). The r10
  *    driver record was ~1.4x machine-inflated while reading
  *    `contended:[]` — a uniform sub-threshold load trips no retry yet
  *    distorts every number; the attested total makes that distortion
  *    quantifiable from the committed record alone, with no re-run.
  */
object Bench {
  /** Attempts whose calibration exceeds baseline by this factor are
    * considered contention-poisoned and retried.
    */
  val ContendedFactor = 3.0

  /** Max (cold+warm) attempt pairs per query before giving up and
    * reporting the best observed time flagged as contended.
    */
  val MaxAttempts = 3

  /** Absolute upper bound on a credible quiet-machine baseline for the
    * fixed calibration probe (observed ~0.10-0.16 s on the target
    * machine; 1 s is ~6x headroom for slower hardware). A measured
    * baseline above this is itself evidence of contention at session
    * start, so decisions clamp to it rather than trusting it.
    */
  val BaselineCeiling = 1.0

  /** Max tolerated fraction of the machine's CPU capacity consumed by
    * OTHER processes during a query's timed region. The probe sandwich
    * only samples the edges of a run: round-5's driver bench let a
    * mid-query CPU hog inflate x02 to 20.6s (real: 2.27s) because both
    * probes landed in quiet moments. External-CPU attribution closes
    * that window — it integrates over the WHOLE timed region, from
    * /proc/stat (machine) minus /proc/self/stat (this JVM).
    */
  val ExternalShareMax = 0.15

  /** Max tolerated fraction of a query's wall time spent in this JVM's
    * GC pauses. The external-CPU signal is blind to NON-CPU slowdowns:
    * the r6 driver bench carried x39=15.7s (three quiet measurements
    * agree on ~4.4s) with both existing signals green — memory pressure
    * or page-cache eviction stretches wall time without any external
    * process burning CPU. GC time (GarbageCollectorMXBean, cumulative
    * pause ms) over the timed region catches the memory-pressure face
    * of that blind spot. Healthy queries on this engine run well under
    * 10% GC; 30% means the measurement, not the plan, was the problem.
    */
  val GcShareMax = 0.30

  /** Max tolerated machine-wide iowait share over a query's timed
    * region. iowait jiffies are deliberately EXCLUDED from busy jiffies
    * in [[parseProcStat]] (a waiting CPU is idle for attribution), so a
    * run stalled on disk — the page-cache-eviction face of the non-CPU
    * blind spot — is invisible to the external-CPU integral. Tracked
    * separately from /proc/stat field 5 and flagged on its own budget.
    */
  val IowaitShareMax = 0.15

  /** First field of /proc/loadavg (1-minute load average), or -1 when
    * unreadable (non-Linux). Parsing isolated for the spec.
    */
  def parseLoadAvg(content: String): Double =
    content.trim.split("\\s+").headOption.flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(-1.0)

  /** Machine-wide busy jiffies from /proc/stat content: the aggregate
    * "cpu " line summed over every field except idle (4th), iowait
    * (5th), and guest/guest_nice (9th/10th — the kernel already folds
    * guest time into user/nice, so counting those fields would
    * double-bill VM guests and inflate the external share into spurious
    * contended flags on virtualized hosts). -1 when unparseable.
    */
  def parseProcStat(content: String): Double =
    content.linesIterator.find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1)
        .flatMap(s => scala.util.Try(s.toDouble).toOption)
      f.zipWithIndex.collect {
        case (v, i) if i != 3 && i != 4 && i != 8 && i != 9 => v
      }.sum
    }.filter(_ > 0).getOrElse(-1.0)

  /** Machine-wide iowait jiffies (5th field of the aggregate "cpu "
    * line); -1 when unparseable. Kept OUT of busy jiffies — this is the
    * disk-stall signal, attributed on its own [[IowaitShareMax]] budget.
    */
  def parseIowait(content: String): Double =
    content.linesIterator.find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1)
        .flatMap(s => scala.util.Try(s.toDouble).toOption)
      if (f.length > 4) f(4) else -1.0
    }.getOrElse(-1.0)

  /** CPU count of the /proc/stat view (the "cpu0".."cpuN" lines) — the
    * denominator for MACHINE-WIDE jiffy shares. availableProcessors()
    * is the cgroup/affinity-limited view: in a container capped at 8
    * CPUs on a 64-core host it undercounts the capacity the aggregate
    * "cpu " line integrates over, inflating external/iowait shares up
    * to 8x into spurious retries and contended flags. 0 when
    * unparseable (callers fall back to availableProcessors).
    */
  def parseMachineCores(content: String): Int =
    content.linesIterator.count(l => l.startsWith("cpu") &&
      l.length > 3 && l.charAt(3).isDigit)

  /** This process's consumed jiffies from /proc/self/stat content:
    * utime + stime (fields 14/15, 1-indexed). The comm field (2) can
    * contain spaces, so parsing anchors on the LAST ')' — everything
    * after it is whitespace-separated starting at field 3. -1 when
    * unparseable.
    */
  def parseSelfStat(content: String): Double = {
    val idx = content.lastIndexOf(')')
    if (idx < 0) -1.0
    else {
      val f = content.substring(idx + 1).trim.split("\\s+")
      // after ')' the tokens start at field 3 (state) → utime is index 11
      scala.util.Try(f(11).toDouble + f(12).toDouble).getOrElse(-1.0)
    }
  }

  /** Fraction of the machine's CPU capacity that OTHER processes used
    * over a timed region: (machine busy jiffies − this JVM's jiffies) /
    * (elapsed × cores × USER_HZ). Clamped at 0 (sampling skew can make
    * the numerator marginally negative on a quiet machine).
    */
  def externalShare(machineBusyDelta: Double, selfDelta: Double,
                    elapsedSec: Double, cores: Int, hz: Double = 100.0): Double =
    if (elapsedSec <= 0 || cores <= 0) 0.0
    else math.max(0.0, (machineBusyDelta - selfDelta) / (elapsedSec * cores * hz))

  /** Fraction of a timed region's wall clock spent in this JVM's GC
    * pauses (gcMillisDelta is cumulative GarbageCollectorMXBean pause
    * time). Clamped at 0; -1 propagates when either input is missing.
    */
  def gcShare(gcMillisDelta: Double, elapsedSec: Double): Double =
    if (gcMillisDelta < 0 || elapsedSec <= 0) -1.0
    else math.max(0.0, gcMillisDelta / 1000.0 / elapsedSec)

  /** Machine-wide iowait share of a timed region: iowait jiffies over
    * elapsed × cores × USER_HZ capacity. Clamped at 0; -1 when missing.
    */
  def iowaitShare(iowaitDelta: Double, elapsedSec: Double,
                  cores: Int, hz: Double = 100.0): Double =
    if (iowaitDelta < 0 || elapsedSec <= 0 || cores <= 0) -1.0
    else math.max(0.0, iowaitDelta / (elapsedSec * cores * hz))

  /** Cumulative GC pause milliseconds across this JVM's collectors; -1
    * when the platform reports none.
    */
  def readGcMillis(): Double = {
    import scala.jdk.CollectionConverters._
    val ts = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0)
    if (ts.isEmpty) -1.0 else ts.sum.toDouble
  }

  /** One (machineBusy, self, iowait) jiffy sample; (-1,-1,-1) off-Linux. */
  def readCpuJiffies(): (Double, Double, Double) =
    try {
      def slurp(p: String) =
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      val stat = slurp("/proc/stat")
      (parseProcStat(stat), parseSelfStat(slurp("/proc/self/stat")), parseIowait(stat))
    } catch { case _: Throwable => (-1.0, -1.0, -1.0) }

  def readLoadAvg(): Double =
    try parseLoadAvg(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg"))))
    catch { case _: Throwable => -1.0 }

  /** Was a timed region disturbed? Any one of FOUR independent signals
    * poisons it:
    *  - calibration SANDWICH: the worse probe side over `baseline` ×
    *    [[ContendedFactor]] (contention alive at either edge — ADVICE r4);
    *  - external-CPU share over [[ExternalShareMax]] (a hog that starts
    *    and stops strictly inside the region — the r5 x02 blind spot);
    *  - GC-pause share over [[GcShareMax]] or machine iowait share over
    *    [[IowaitShareMax]]: the NON-CPU blind spot (r6's x39=15.7s vs a
    *    real ~4.4s passed both CPU signals — memory pressure or
    *    page-cache eviction stretches wall time without external CPU).
    * A -1 (unreadable) share never trips its signal.
    */
  def contended(calib: Double, ext: Double, gc: Double, io: Double,
                baseline: Double): Boolean =
    calib > baseline * ContendedFactor || ext > ExternalShareMax ||
      gc > GcShareMax || io > IowaitShareMax

  /** Retry decision: attempt `n` (1-based) measured `p` against
    * `baseline`; retry while disturbed and attempts remain.
    */
  def shouldRetry(p: Probe, baseline: Double, attempt: Int): Boolean =
    attempt < MaxAttempts && contended(p.calib, p.ext, p.gc, p.io, baseline)

  /** Contention-deflated estimate of a query's quiet-machine time. The
    * calibration probe is FIXED work, so the ratio of a query's own
    * calibration to the best probe observed anywhere in the run (`ref`)
    * measures how much slower the machine ran during that query than it
    * is capable of; dividing it out estimates the quiet time. Deflates
    * only — a probe can only be slowed down, never sped up, so warm is
    * never inflated. The r10 driver record needed exactly this: a
    * uniform ~1.4x machine load sat below every retry threshold
    * (ContendedFactor=3, ext share blind to sibling-cgroup contention)
    * yet inflated the committed total 43% with `contended:[]` — the
    * evidence existed per query but never reached the compact line the
    * driver tails. Failed queries (warm<0) and missing calibrations
    * pass through unadjusted.
    */
  def attestedTime(warm: Double, calib: Double, ref: Double): Double =
    if (warm < 0 || calib <= 0 || ref <= 0 || calib <= ref) warm
    else warm * (ref / calib)

  /** Ceiling on the [[attestedRate]] multiplier. Unlike the time side
    * (deflate-only, bounded by the raw measurement), the rate side
    * inflates — and the linear contention model behind `calib/ref` is
    * only credible for mild slowdowns. Round 18 published 30,783
    * rows/s extrapolated 5.16x from 5,967 raw (VERDICT r18 #1): a
    * figure that is mostly model, not measurement. The cap matches the
    * regime the r10 calibration data actually supported (~1.4-2x);
    * beyond it the attested rate saturates and the emitted
    * `attest_factor` tells the reader how contended the run really
    * was. */
  val RateAttestCap = 2.0

  /** The multiplier [[attestedRate]] applies: `min(calib/ref, cap)`,
    * 1 when the inputs are missing or the machine was quiet. Emitted
    * as its own record field so a reader can discount the attested
    * figure without re-deriving the model. */
  def rateAttestFactor(calib: Double, ref: Double): Double =
    if (calib <= 0 || ref <= 0 || calib <= ref) 1.0
    else math.min(calib / ref, RateAttestCap)

  /** Throughput counterpart of [[attestedTime]]: the quiet-machine
    * estimate of a rows/s figure measured while the calibration probe
    * ran `calib / ref` times slower than the machine's best observed
    * capability. Adjusts UP only (contention can only have slowed the
    * stream, so the attested rate is never below the measured one —
    * the deflate-only discipline mirrored), and by at most
    * [[RateAttestCap]] (the r18 lesson: an uncapped CPU-probe ratio
    * extrapolated 5x past measurement); failed rates (< 0) and missing
    * calibrations pass through unadjusted. The r17 driver
    * record needed exactly this: stream_rows_per_sec dropped 21%
    * round-over-round with zero streaming-code changes, and nothing in
    * the committed record could prove it was the same contention the
    * query totals attested away. */
  def attestedRate(rate: Double, calib: Double, ref: Double): Double =
    if (rate < 0) rate
    else rate * rateAttestFactor(calib, ref)

  /** The run's best evidence of quiet-machine capability: the minimum
    * over the session-start baseline and every per-query calibration.
    * Using the global min (not the start-of-run baseline alone) keeps
    * the attestation meaningful even when the machine was ALREADY
    * loaded at session start — any quiet moment anywhere in the run
    * reveals the true capability.
    */
  def attestRef(baseline: Double, queryCalibs: Seq[Double]): Double = {
    val valid = (baseline +: queryCalibs).filter(_ > 0)
    if (valid.isEmpty) -1.0 else valid.min
  }

  /** Fixed CPU-bound probe: one task per local core, arithmetic-only so
    * its runtime tracks available CPU, not I/O. Returns elapsed seconds.
    */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // Bounded operands: ANSI mode is on and sum(id*id) over 64M ids
    // overflows long.
    spark.range(0, 64L * 1000 * 1000, 1, 32).selectExpr("sum((id % 97) * (id % 89))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** What [[timed]] measured around one body: wall seconds, the
    * calibration probe on each side, and the external-CPU, GC-pause and
    * iowait shares of the region (each -1 when its counters are
    * unreadable). */
  final case class Probe(elapsed: Double, calibPre: Double, calibPost: Double,
                         ext: Double, gc: Double, io: Double) {
    /** The worse side of the sandwich: contention alive at either edge. */
    def calib: Double = math.max(calibPre, calibPost)
  }

  // machine-wide shares must divide by the MACHINE's cores (what the
  // aggregate /proc/stat line integrates over), not the cgroup view
  private lazy val machineCores: Int = {
    val m = scala.util.Try(parseMachineCores(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat"))))).getOrElse(0)
    if (m > 0) m else Runtime.getRuntime.availableProcessors()
  }

  /** Runs `body` inside the calibration sandwich: a [[calibrate]] probe
    * just before and just after it, and the GC-pause and /proc jiffy
    * counters read around the timed region itself, so the shares
    * integrate over the WHOLE body while the probes sample its edges.
    */
  def timed[T](spark: SparkSession)(body: => T): (T, Probe) = {
    val calibPre = calibrate(spark)
    val gc0 = readGcMillis()
    val (mb0, sj0, io0) = readCpuJiffies()
    val t0 = System.nanoTime()
    val out = body
    val elapsed = (System.nanoTime() - t0) / 1e9
    val (mb1, sj1, io1) = readCpuJiffies()
    val gc1 = readGcMillis()
    val calibPost = calibrate(spark)
    val ext =
      if (mb0 >= 0 && sj0 >= 0 && mb1 >= 0 && sj1 >= 0)
        externalShare(mb1 - mb0, sj1 - sj0, elapsed, machineCores)
      else -1.0
    val gcs = if (gc0 >= 0 && gc1 >= 0) gcShare(gc1 - gc0, elapsed) else -1.0
    val ios =
      if (io0 >= 0 && io1 >= 0) iowaitShare(io1 - io0, elapsed, machineCores)
      else -1.0
    (out, Probe(elapsed, calibPre, calibPost, ext, gcs, ios))
  }

  private def jsonMap(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** The number format of every JSON record line: `pattern` under
    * Locale.ROOT (the f"" interpolator is locale-sensitive, and a comma
    * decimal separator — de_DE etc. — would corrupt the line), and NaN,
    * which is not a JSON number, as -1. */
  private[graft] def fmt(d: Double, pattern: String = "%.4f"): String =
    if (d == d) String.format(java.util.Locale.ROOT, pattern, Double.box(d)) else "-1"

  /** Byte budget for the compact line: the driver tails 2000 bytes of
    * stdout, and sbt appends a "[success] Total time: ..." trailer
    * (~80 bytes) AFTER our println that eats into the same window. */
  val CompactLineBudget = 1850

  /** The compact (FINAL) stdout line: total + per-query seconds + the two
    * trust fields. SELF-BOUNDING: the emitted line is measured against
    * [[CompactLineBudget]] and degrades gracefully — 3 significant digits
    * per query, then 2, then the contended list truncated to its first 3
    * names — so a growing query inventory can never push the record past
    * the driver's tail capture (the round-4 lesson, re-learned at 71
    * queries in round 7). BenchSpec pins the bound at the real query
    * count under worst-case value widths.
    */
  def compactLine(total: Double, attested: Double, queries: Seq[(String, Double)],
                  contendedNames: Seq[String], baselineSuspect: Boolean,
                  sfDir: String, extra: Seq[(String, String)] = Nil): String = {
    def render(fmtV: Double => String, maxContended: Int,
               subset: Seq[(String, Double)], omitted: Int): String = {
      val qs = jsonMap(subset.map { case (n, v) => n -> fmtV(v) })
      val contended = contendedNames.take(maxContended)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val cut = if (omitted > 0) s""""queries_omitted":$omitted,""" else ""
      // sf as basename: the directory prefix is fixed machine context the
      // tail-captured record doesn't need to spend bytes on.
      val sf = new java.io.File(sfDir).getName
      // extra fields (e.g. the streaming-throughput record) are small and
      // never degraded — they ride every tier.
      val xtr = extra.map { case (k, v) => s""""$k":$v,""" }.mkString
      s"""{"metric":"total","value":${fmt(total)},"value_attested":${fmt(attested)},""" +
        s""""unit":"sec","queries":$qs,$cut$xtr""" +
        s""""contended":$contended,"baseline_suspect":$baselineSuspect,"sf":"$sf"}"""
    }
    def fits(l: String): Boolean = l.getBytes("UTF-8").length <= CompactLineBudget
    // Values take N SIGNIFICANT digits ("0.773", "1.23", "99.1" — ms
    // resolution where it matters, short everywhere; %g's exponent form
    // "1.23e-05" is still a JSON number), the floor tier centiseconds:
    // bounded 4-5 chars for any sane query time, so the pathological
    // all-values-wide case stays bounded
    def fmtCs(d: Double): String = fmt(d, "%.2f")
    val tiers: Seq[(Double => String, Int)] = Seq(
      (fmt(_, "%.3g"), Int.MaxValue), (fmt(_, "%.2g"), Int.MaxValue),
      (fmt(_, "%.2g"), 3), (fmtCs _, 3))
    tiers.iterator.map { case (f, mc) => render(f, mc, queries, 0) }
      .find(fits)
      .getOrElse {
        // TRUE last resort (e.g. a giant-SF run where every value is
        // wide): keep the SLOWEST entries that fit and say how many
        // were cut — an over-budget line would lose its head to the
        // tail capture and the whole record with it (the round-4
        // failure this method exists to prevent)
        val bySlow = queries.sortBy { case (_, v) => if (v == v) -v else 0.0 }
        Iterator.iterate(bySlow.length)(k => (k * 3) / 4)
          .takeWhile(_ > 0)
          .map(k => render(fmtCs, 3, bySlow.take(k), queries.length - k))
          .find(fits)
          .getOrElse(render(fmtCs, 3, Seq.empty, queries.length))
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-bench")

    // Warm up session, codegen, file listing, and parquet footers outside
    // the timed region (otherwise the alphabetically-first query absorbs
    // every one-time cost).
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.core.Tables.all.foreach { t =>
      try graft.core.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }

    // Baseline calibration: min of 5 probes at session start. min (not
    // mean) because the baseline should capture the machine's capability,
    // and any single probe can only be slowed down by interference.
    val measuredBaseline = (1 to 5).map(_ => calibrate(spark)).min
    // A baseline beyond the absolute ceiling means the machine was
    // contended DURING calibration — trusting it would disable the
    // detector for the whole run (ADVICE r4). Clamp the decision
    // baseline and flag the record.
    val baselineSuspect = measuredBaseline > BaselineCeiling
    val baseline = math.min(measuredBaseline, BaselineCeiling)
    val loadStart = readLoadAvg()

    def run(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop sink: full materialization of every output column — count()
      // would let Catalyst prune expensive projections out of the plan.
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    final case class QueryResult(
        name: String,
        warm: Double,     // min over all attempts (cold and warm runs)
        cold: Double,     // first attempt's first run
        calib: Double,    // best (lowest) calibration across attempts
        ext: Double,      // external-CPU share of the BEST attempt (-1 off-Linux)
        gc: Double,       // GC-pause share of the BEST attempt (-1 unavailable)
        io: Double,       // machine iowait share of the BEST attempt (-1 off-Linux)
        attempts: Int,
        load: (Double, Double), // loadavg at query start / end
        contended: Boolean)

    // Optional local-iteration filter: SPARK_GRAFT_ONLY=x59_interval_join
    // times just the named queries. The driver never sets it; the full
    // suite remains the default.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      try {
        val l0 = readLoadAvg()
        var attempt = 0
        var bestTime = Double.MaxValue
        var bestCalib = Double.MaxValue
        var bestExt = -1.0
        var bestGc = -1.0
        var bestIo = -1.0
        var firstCold = -1.0
        var retry = true
        while (retry) {
          attempt += 1
          val ((cold, warm), p) = timed(spark)((run(fn), run(fn)))
          if (firstCold < 0) firstCold = cold
          if (math.min(cold, warm) < bestTime) {
            bestTime = math.min(cold, warm); bestExt = p.ext; bestGc = p.gc; bestIo = p.io
          }
          bestCalib = math.min(bestCalib, p.calib)
          retry = shouldRetry(p, baseline, attempt)
          if (retry) Thread.sleep(3000) // let a transient spike pass
        }
        QueryResult(name, bestTime, firstCold, bestCalib, bestExt, bestGc, bestIo,
          attempt, (l0, readLoadAvg()),
          contended = contended(bestCalib, bestExt, bestGc, bestIo, baseline))
      } catch {
        // Failures are reported as -1 so the driver can tell them from a
        // fast success.
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          QueryResult(name, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1, (-1.0, -1.0),
            contended = false)
      }
    }

    val colds = jsonMap(results.map(r => r.name -> fmt(r.cold)))
    val calibs = jsonMap(results.map(r => r.name -> fmt(r.calib)))
    val exts = jsonMap(results.map(r => r.name -> fmt(r.ext)))
    val gcs = jsonMap(results.map(r => r.name -> fmt(r.gc)))
    val ios = jsonMap(results.map(r => r.name -> fmt(r.io)))
    // The run's best evidence of quiet-machine capability — computed
    // BEFORE the stream bench so its throughput attestation can use the
    // whole query run's probes as reference.
    val ref = attestRef(measuredBaseline, results.map(_.calib))
    // Streaming throughput (SURVEY §6): NDJSON replay → full pipeline →
    // PK-upsert store, with a verified mid-run checkpoint restart. A
    // failure degrades to a -1 record, never kills the batch numbers.
    // SPARK_GRAFT_SKIP_STREAM=1 skips it for query-only local iteration.
    val stream: Option[StreamBench.Result] =
      if (sys.env.contains("SPARK_GRAFT_SKIP_STREAM")) None
      else Some(try StreamBench.run(spark, attestRef = ref) catch {
        case e: Throwable =>
          System.err.println(s"[bench] stream bench failed: $e")
          StreamBench.Result(ok = false, rows = -1, batches = -1,
            elapsedSec = -1, rowsPerSec = -1, batchMsAvg = -1,
            restartedMidRun = false)
      })

    // Delivery-loop throughput (VERDICT r19 ask 2): N sequential vendor
    // deliveries through the composed processDelivery loop — the
    // O(delta) maintenance claim at measurement grain. A failure
    // degrades to an absent record, never kills the batch numbers.
    val deliveryLoop: Option[DeliveryBench.Result] =
      if (sys.env.contains("SPARK_GRAFT_SKIP_DELIVERY")) None
      else
        try Some(DeliveryBench.run(spark, sfDir))
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] delivery bench failed: $e")
            None
        }

    // ANN quality attestation: recall@5 of each approximate face vs the
    // exact x05 answer, re-measured EVERY bench run so index/codebook
    // drift shows up in the committed record like a wall-time regression
    // would (the specs assert recall once at fixed fixtures; this tracks
    // it at the bench SF). Pairs compare as (query_id, neighbor_id) sets.
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // An empty exact answer (possible at a tiny bench SF) would make
    // every recall 0/0 = NaN — which is not valid JSON and breaks
    // downstream artifact parsing; both blocks are skipped instead,
    // matching the catch arms' "absent, not garbage" contract.
    val exact: Set[(Long, Long)] =
      try {
        val e = pairs(SparkEntry.queries("x05_cosine_knn")(spark, sfDir))
        if (e.isEmpty) System.err.println("[bench] ann recall skipped: exact x05 empty")
        e
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] exact x05 failed: $e")
          Set.empty
      }
    def recall(approx: Set[(Long, Long)]): Double =
      (exact intersect approx).size.toDouble / exact.size
    val annRecalls: Seq[(String, Double)] =
      if (exact.isEmpty) Seq.empty
      else try {
        Seq("x06_ann_ivf", "x06_ann_lsh", "x17_quant_knn", "x140_jl_knn").map { name =>
          name -> recall(pairs(SparkEntry.queries(name)(spark, sfDir)))
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ann recall failed: $e")
          Seq.empty
      }

    // IVF recall-vs-cost sweep (VERDICT r19 ask 5): the x06 IVF face at
    // nProbe 1/2/4 against the same exact answer — the per-budget
    // recall curve a deployment reads to pick its probe budget.
    val ivfSweep: Seq[(Int, Double, Double)] =
      if (exact.isEmpty) Seq.empty
      else try {
        Seq(1, 2, 4).map { np =>
          val t0 = System.nanoTime()
          val approx = pairs(graft.operators.Similarity.ivfQueryN(spark, sfDir, np))
          val sec = (System.nanoTime() - t0) / 1e9
          (np, recall(approx), sec)
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ivf sweep failed: $e")
          Seq.empty
      }

    val attempts = jsonMap(results.map(r => r.name -> r.attempts.toString))
    val loads = jsonMap(results.map(r => r.name -> s"[${fmt(r.load._1)},${fmt(r.load._2)}]"))
    val total = results.map(_.warm).filter(_ >= 0).sum
    // Attested total: each query deflated by its own calibration's
    // slowdown vs the run's best observed probe (`ref`, computed above
    // the stream block) — the number a reader should compare across
    // rounds when the raw total and the attested one disagree (they
    // diverge exactly when the machine was loaded).
    val attestedTotal = results.filter(_.warm >= 0)
      .map(r => attestedTime(r.warm, r.calib, ref)).sum
    // Line 1: the full self-attested record (for a reader with the whole
    // stdout). ~4.5 KB — larger than the driver's tail-capture window.
    println(
      s"""{"metric":"total_attested","value":${fmt(total)},""" +
      s""""value_attested":${fmt(attestedTotal)},"attest_ref":${fmt(ref)},""" +
      s""""unit":"sec","queries_cold":$colds,""" +
      s""""calib_baseline":${fmt(measuredBaseline)},"baseline_suspect":$baselineSuspect,""" +
      s""""queries_calib":$calibs,"queries_extcpu":$exts,"queries_gc":$gcs,""" +
      s""""queries_iowait":$ios,"queries_attempts":$attempts,""" +
      s""""queries_load":$loads,"loadavg_start":${fmt(loadStart)},""" +
      s""""loadavg_end":${fmt(readLoadAvg())},"sf":"$sfDir"}""")
    // Line 2 (LAST): the compact record — total, per-query seconds, and
    // the two trust fields. ~1.4 KB for 45 queries, so a 2 KB stdout tail
    // always holds the complete line (round-4 lesson: the attested line
    // alone grew past the tail window and the committed bench lost its
    // per-query numbers).
    // The streaming record gets its own full line AND compact fields on
    // the final line (the tail window only reliably keeps the last line).
    stream.foreach(r => println(StreamBench.record(r)))
    deliveryLoop.foreach(r => println(DeliveryBench.record(r)))
    // One ann_recall line per approximate face (short — they sit inside
    // the driver's 2 KB stdout tail next to the compact line).
    annRecalls.foreach { case (name, rec) =>
      println(s"""{"metric":"ann_recall","query":"$name","k":5,""" +
        s""""vs":"x05_cosine_knn","value":${fmt(rec)},"sf":"$sfDir"}""")
    }
    ivfSweep.foreach { case (np, rec, sec) =>
      println(s"""{"metric":"ann_recall","query":"x06_ann_ivf","k":5,""" +
        s""""nProbe":$np,"vs":"x05_cosine_knn","value":${fmt(rec)},""" +
        s""""sec":${fmt(sec)},"sf":"$sfDir"}""")
    }
    val streamExtra = stream.toSeq.flatMap { r =>
      Seq(
        "stream_rows_per_sec" -> fmt(r.rowsPerSec, "%.5g"),
        "stream_rows_per_sec_attested" -> fmt(r.rowsPerSecAttested, "%.5g"),
        "stream_attest_factor" -> fmt(r.attestFactor, "%.3g"),
        "stream_batches" -> r.batches.toString,
        "stream_ok" -> r.ok.toString)
    } ++ annRecalls.map { case (name, rec) =>
      s"recall_${name.stripPrefix("x06_ann_").stripPrefix("x17_")}" -> fmt(rec)
    } ++ ivfSweep.map { case (np, rec, _) =>
      s"recall_ivf_np$np" -> fmt(rec)
    } ++ deliveryLoop.toSeq.flatMap { r =>
      Seq(
        "dlv_sec" -> r.perSec.map(fmt(_, "%.3g")).mkString("[", ",", "]"),
        "dlv_flat_sec" -> fmt(DeliveryBench.flatRatio(r.perSec), "%.3g"),
        "dlv_flat_bytes" ->
          fmt(DeliveryBench.flatRatio(r.perBytes.map(_.toDouble)), "%.3g"),
        "dlv_ok" -> r.ok.toString)
    }
    println(compactLine(total, attestedTotal, results.map(r => r.name -> r.warm),
      results.filter(_.contended).map(_.name), baselineSuspect, sfDir,
      extra = streamExtra))
    spark.stop()
  }
}
