package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Determinism.{dec, decOut, dsum}
import graft.core.Tables

/** Warehouse-style analytics operators: SCD type-2 history build from a
  * change log, exact percentile rollups, and wide pivot tables. The
  * reference engine's store is type-1 (last-write-wins PK upsert,
  * cassandra_storage.py:75-110 — R18); these extend it with the
  * history-preserving and analytic faces a warehouse on the same data
  * needs.
  *
  * Scale shapes: scd2Build is one shuffle on the entity key with both
  * windows sharing a single sort (the change filter preserves the
  * (ts, tiebreak) order, so Catalyst plans lag-filter-lead-row_number
  * into one exchange + one sort, asserted by AnalyticsSpec's "scd2
  * plan" test). Percentile rollup is a
  * two-phase hash agg whose buffer holds per-group value multisets —
  * exact percentiles cannot stream, so at 100 TB either group cardinality
  * bounds the buffer (typical: thousands of groups) or swap in
  * `percentile_approx` (mergeable GK sketch, same call shape, tested in
  * FunctionsSpec). Pivot with an EXPLICIT value list is a single
  * two-phase hash agg (one shuffle, no driver-side distinct scan — never
  * call pivot without values at scale; Spark must otherwise run a
  * blocking distinct job first).
  */
object Analytics {

  /** Build an SCD type-2 history from an event-grained change log: one
    * row per (entity, run of consecutive equal attribute values), with
    * half-open validity `[effective_from, effective_to)`, a 1-based
    * per-entity `version`, and `is_current` on the open row. Consecutive
    * duplicates collapse (null-safely: a null attribute is a value, and
    * only CHANGES open a new version). `tiebreakCol` makes the event
    * order total when timestamps collide, so the history is deterministic
    * under any partitioning.
    *
    * Point-in-time lookup over the result is an as-of join on
    * `effective_from` ([[AsOfJoin.asOfNative]], q21) or a range join on
    * the validity interval (q07's shape).
    */
  def scd2Build(log: DataFrame, keyCols: Seq[String], attrCol: String,
                tsCol: String, tiebreakCol: String): DataFrame = {
    require(keyCols.nonEmpty, "scd2Build: at least one key column")
    val keys = keyCols.map(col)
    val order = Window.partitionBy(keys: _*).orderBy(col(tsCol), col(tiebreakCol))
    val changes = log
      .withColumn("_rn", row_number().over(order))
      .withColumn("_prev", lag(col(attrCol), 1).over(order))
      // the FIRST row opens a run unconditionally (lag's null sentinel
      // is indistinguishable from a null attribute VALUE, so the bare
      // null-safe inequality would silently drop entities whose history
      // STARTS null); after that, null-safe inequality — genuine changes
      // survive, consecutive equal values (null == null included) collapse
      .filter(col("_rn") === 1 || !(col(attrCol) <=> col("_prev")))
      .select(keys :+ col(attrCol) :+ col(tsCol).as("effective_from")
        :+ col(tiebreakCol).as("_tb"): _*)
    val runs = Window.partitionBy(keys: _*).orderBy(col("effective_from"), col("_tb"))
    changes
      .withColumn("effective_to", lead(col("effective_from"), 1).over(runs))
      .withColumn("version", row_number().over(runs).cast("long"))
      .withColumn("is_current", col("effective_to").isNull)
      .drop("_tb")
  }

  /** INCREMENTAL SCD2 maintenance: fold a NEW batch of change-log
    * events into a persisted [[scd2Build]] history without touching
    * closed runs — the nightly/streaming upkeep of the x27 artifact (a
    * full rebuild re-reads the entire log; the merge reads the history
    * plus one batch). Result equals `scd2Build(oldLog ∪ newLog)`
    * (spec-asserted) under the append contract below.
    *
    * Per key: the open run's attribute seeds the change detection (the
    * first new event opens a run only if its attr differs null-safely —
    * brand-new keys always open at version 1); the open run closes at
    * the first new change's timestamp; versions continue from the
    * stored counter; keys untouched by the batch pass through
    * BYTE-identical.
    *
    * APPEND CONTRACT (caller-owned, standard for incremental history
    * builds): every new event of a key sorts after ALL of that key's
    * already-folded events. The history cannot check this itself — it
    * keeps change points, not the max seen timestamp (an event arriving
    * between two collapsed same-attr old events would need runs the
    * history no longer has). Route late data to a rebuild.
    *
    * NULL-KEY CONTRACT: batch rows with a null in any key column are
    * DROPPED here. [[scd2Build]]'s window groups null keys into one
    * entity, but this merge's key equi-joins can never match null
    * keys — an admitted null-key event would silently restart that
    * entity at version 1 next to the old open run (two is_current
    * rows). So the `scd2Build(oldLog ∪ newLog)` equivalence holds on
    * the non-null-key universe; route null-key data to a rebuild or
    * clean it upstream. Existing null-key history rows pass through
    * untouched.
    *
    * Scale shape: one shuffle of the (small) batch on the key for its
    * windows, one keyed join against the |keys|-row current slice, one
    * join of the history against the |touched keys|-row first-change
    * frame — closed history rows are never shuffled wider than that
    * join, and at 100 TB the history side can be partition-pruned to
    * touched keys by the same join. */
  def scd2Merge(existing: DataFrame, newLog: DataFrame, keyCols: Seq[String],
                attrCol: String, tsCol: String, tiebreakCol: String): DataFrame = {
    require(keyCols.nonEmpty, "scd2Merge: at least one key column")
    val keys = keyCols.map(col)
    val cur = existing.filter(col("is_current"))
      .select(keys :+ col(attrCol).as("_cur_attr")
        :+ col("version").as("_cur_ver") :+ lit(true).as("_has_cur"): _*)
    val order = Window.partitionBy(keys: _*).orderBy(col(tsCol), col(tiebreakCol))
    // null-key batch rows out (see NULL-KEY CONTRACT above)
    val cleanNew = newLog.filter(keys.map(_.isNotNull).reduce(_ && _))
    val seeded = cleanNew.join(cur, keyCols, "left")
      .withColumn("_rn", row_number().over(order))
      .withColumn("_lag", lag(col(attrCol), 1).over(order))
      // previous value: within the batch the lag; for the batch's first
      // row the stored open-run attribute (may itself be a null VALUE —
      // distinguished from "no history" by _has_cur)
      .withColumn("_prev", when(col("_rn") === 1, col("_cur_attr"))
        .otherwise(col("_lag")))
      .filter(
        // a change w.r.t. the previous value, or the very first event of
        // a key with no history at all
        !(col(attrCol) <=> col("_prev")) ||
          (col("_rn") === 1 && col("_has_cur").isNull))
      .select(keys :+ col(attrCol) :+ col(tsCol).as("effective_from")
        :+ col(tiebreakCol).as("_tb") :+ col("_cur_ver"): _*)
    val runs = Window.partitionBy(keys: _*).orderBy(col("effective_from"), col("_tb"))
    val newRuns = seeded
      .withColumn("effective_to", lead(col("effective_from"), 1).over(runs))
      .withColumn("version",
        (row_number().over(runs) + coalesce(col("_cur_ver"), lit(0L))).cast("long"))
      .withColumn("is_current", col("effective_to").isNull)
      .drop("_tb", "_cur_ver")
    // close each touched key's open run at its first new change
    val firstNew = newRuns.groupBy(keys: _*)
      .agg(min(col("effective_from")).as("_first_new"))
    val updated = existing.join(firstNew, keyCols, "left")
      .withColumn("effective_to",
        when(col("is_current") && col("_first_new").isNotNull, col("_first_new"))
          .otherwise(col("effective_to")))
      .withColumn("is_current", col("is_current") && col("_first_new").isNull)
      .drop("_first_new")
    updated.unionByName(newRuns)
  }

  /** x27: SCD2 history of each user's event_type over the events table —
    * the type-2 face of the reference's type-1 upsert store. */
  def scd2Query(spark: SparkSession, dir: String): DataFrame =
    scd2Build(Tables.load(spark, dir, "events"),
        keyCols = Seq("user_id"), attrCol = "event_type",
        tsCol = "ts", tiebreakCol = "event_id")
      .withColumnRenamed("event_type", "attr")
      .orderBy(col("user_id"), col("version"))

  /** x71: POINT-IN-TIME enrichment — each click event annotated with
    * its user's SCD2 attribute valid AT the event's own timestamp (the
    * "dimension as of fact time" lookup every history-preserving
    * warehouse runs; the exact query x27's scaladoc prescribes for its
    * output). Composes the x27 history build with the NATIVE as-of exec
    * ([[AsOfJoin.asOfNative]] — q21's merge-scan operator): hash-cluster
    * + sort both sides on the user key, one O(|L|+|R|) forward pass per
    * partition, no per-fact window state. The at-or-before winner is
    * unique because effective_from values are change-event timestamps
    * and the corpus carries no (user_id, ts) collisions (verified —
    * with ties the engines could each pick their own run).
    *
    * The history builds from the NON-click events (the dimension log);
    * clicks are the fact stream being enriched — a click before its
    * user's first dimension event gets a null attr (the left-join
    * contract). Null keys/times are dropped from the fact side like
    * q21, keeping the three faces (native exec, correlated-lookup SQL
    * twin, DuckDB ASOF) equal by construction. */
  def pitEnrichQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click" &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"))
    val hist = scd2Build(ev.filter(col("event_type") =!= "click"),
        Seq("user_id"), "event_type", "ts", "event_id")
      .select(col("user_id"), col("event_type").as("attr"),
        col("effective_from").as("fts"))
    AsOfJoin.asOfNative(clicks, hist, "user_id", "ts", "fts")
      .orderBy(col("event_id"))
  }

  /** Exact interpolated percentiles of `valueCol` per group — one
    * two-phase hash agg. Results go through DECIMAL(18,4) (both engines
    * interpolate over the same sorted doubles; the decimal image makes
    * the cross-engine compare exact, same discipline as dsum), then
    * present as DOUBLE ([[graft.core.Determinism.decOut]] — decimal
    * output columns of any precision hash unstably across engines). */
  def percentileRollup(rows: DataFrame, groupCols: Seq[String], valueCol: String,
                       ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0 && p <= 1 },
      s"percentileRollup: bad percentile spec $ps")
    rows.groupBy(groupCols.map(col): _*)
      .agg(decOut(dec(percentile(col(valueCol), lit(ps.head._2)))).as(ps.head._1),
        ps.tail.map { case (name, p) =>
          decOut(dec(percentile(col(valueCol), lit(p)))).as(name)
        }: _*)
  }

  private[graft] val percentileSpec: Seq[(String, Double)] =
    Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)

  /** x28: exact value percentiles per event_type. */
  def percentileQuery(spark: SparkSession, dir: String): DataFrame =
    percentileRollup(Tables.load(spark, dir, "events"),
        Seq("event_type"), "value", percentileSpec)
      .orderBy(col("event_type"))

  /** Winsorized per-group statistics: clip `valueCol` to its group's
    * [lo, hi] exact interpolated percentiles and report how much was
    * clipped plus the winsorized sum — the outlier-robust moment pass a
    * metrics pipeline runs before averaging heavy-tailed values. All
    * value arithmetic goes through DECIMAL(18,4) (the x28/x33
    * discipline): the bounds are decimal images of the percentiles, the
    * clip compares decimals to decimals, and the winsorized sum is an
    * exact decimal sum surfaced as DOUBLE — every cell cross-engine
    * exact, no boundary flake (a value AT a bound clips nowhere).
    *
    * Scale shape: two scans by construction — exact percentiles cannot
    * stream ahead of the data they bound, so pass 1 is x28's two-phase
    * percentile agg (one row per group) and pass 2 re-scans with the
    * bounds joined back (broadcast — |groups| rows), clips in a
    * codegen'd projection, and collapses in a second two-phase agg. At
    * extreme group fan-in swap pass 1's `percentile` for
    * `percentile_approx` exactly as x28's scaladoc prescribes. */
  def winsorize(rows: DataFrame, groupCols: Seq[String], valueCol: String,
                lo: Double, hi: Double): DataFrame = {
    val keys = groupCols.map(col)
    val bounds = winsorBoundsOf(rows, groupCols, valueCol, lo, hi)
    // nulls are dropped BEFORE the clip: greatest/least skip nulls in
    // BOTH engines, so an unguarded null value would clip to p_lo
    // instead of staying out of the sum. A group that is all nulls
    // disappears from the report in both faces.
    rows
      .filter(col(valueCol).isNotNull)
      .join(broadcast(bounds), groupCols)
      .select(keys :+ dec(col(valueCol)).as("_v") :+ col("p_lo") :+ col("p_hi"): _*)
      .groupBy(keys: _*)
      .agg(count(col("_v")).as("n"),
        count(when(col("_v") < col("p_lo"), 1)).as("n_lo"),
        count(when(col("_v") > col("p_hi"), 1)).as("n_hi"),
        // bounds present as hash-safe DOUBLE ON OUTPUT only — the clip
        // above compared the exact DECIMAL(18,4) images
        decOut(first(col("p_lo"))).as("p_lo"),
        decOut(first(col("p_hi"))).as("p_hi"),
        sum(least(greatest(col("_v"), col("p_lo")), col("p_hi")))
          .cast("double").as("sum_w"))
  }

  /** Frozen (group, p_lo, p_hi) clip bounds for [[clipGate]] — the
    * winsorize counterpart of [[momentsOf]]/[[madBaselineOf]], persisted
    * as a |groups|-row artifact. */
  def winsorBoundsOf(rows: DataFrame, groupCols: Seq[String], valueCol: String,
                     lo: Double, hi: Double): DataFrame = {
    require(0 <= lo && lo < hi && hi <= 1, s"winsorBoundsOf: lo=$lo hi=$hi")
    rows.groupBy(groupCols.map(col): _*)
      .agg(dec(percentile(col(valueCol), lit(lo))).as("p_lo"),
        dec(percentile(col(valueCol), lit(hi))).as("p_hi"))
  }

  /** Clip rows against a precomputed [[winsorBoundsOf]] artifact: every
    * row comes back with `v_w`, its value clipped to the group's frozen
    * [p_lo, p_hi] (DECIMAL(18,4), the x58 arithmetic). Broadcast join —
    * the clipped side never shuffles (and may be a streaming frame).
    * Null values stay null (never clip to a bound); rows whose group is
    * absent from the baseline pass through UNCLIPPED (v_w = dec(value))
    * — a clip gate has no grounds to alter a value it has no bounds
    * for, unlike the outlier gates' flagUnseen which surfaces them. */
  def clipGate(rows: DataFrame, bounds: DataFrame, groupCols: Seq[String],
               valueCol: String): DataFrame = {
    val v = dec(col(valueCol))
    rows.join(broadcast(bounds), groupCols, "left")
      .withColumn("v_w",
        when(col(valueCol).isNull, lit(null).cast(graft.core.Determinism.Dec))
          .when(col("p_lo").isNull, v)
          .otherwise(least(greatest(v, col("p_lo")), col("p_hi"))))
  }

  /** x58's clip points, shared with the DuckDB oracle. */
  private[graft] val WinsorLo: Double = 0.05
  private[graft] val WinsorHi: Double = 0.95

  /** Median/MAD robust outliers: flag rows whose |value - median| exceeds
    * `k` × MAD (median absolute deviation) within their group — the
    * breakdown-resistant face of x33's z-score detector (mean and std
    * move with the outliers they are meant to catch; medians do not,
    * up to 50% contamination). The default k = 4.4478 = 3 × 1.4826 is
    * the standard "3 sigma" cut through the normal-consistency constant.
    *
    * Exactness: medians come from the x28 `percentile` + DECIMAL(18,4)
    * image; deviations are decimal subtractions (exact); the threshold
    * compare is decimal × decimal vs decimal — no float boundary
    * anywhere, so flag membership is cross-engine exact.
    *
    * Scale shape: three scans by construction (med needs a full pass,
    * MAD needs med, flags need both) with the per-group statistics
    * broadcast back each time — |groups| rows, never a fact shuffle.
    * At extreme group fan-in swap `percentile` for `percentile_approx`
    * (x28's prescription) and the scans pipeline map-side. */
  def madOutliers(rows: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: java.math.BigDecimal = new java.math.BigDecimal("4.4478"))
      : DataFrame =
    madGate(rows.filter(col(valueCol).isNotNull),
      madBaselineOf(rows, groupCols, valueCol), groupCols, valueCol, k)

  /** Frozen (group, med, mad) baseline for [[madGate]]: two percentile
    * passes over a reference corpus, persisted as a |groups|-row
    * artifact — the MAD counterpart of [[momentsOf]]. */
  def madBaselineOf(rows: DataFrame, groupCols: Seq[String],
                    valueCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val nn = rows.filter(col(valueCol).isNotNull)
    val med = nn.groupBy(keys: _*)
      .agg(dec(percentile(col(valueCol), lit(0.5))).as("med"))
    nn.join(broadcast(med), groupCols)
      .withColumn("_dev", abs(dec(col(valueCol)) - col("med")))
      .groupBy(keys: _*)
      .agg(first(col("med")).as("med"),
        dec(percentile(col("_dev").cast("double"), lit(0.5))).as("mad"))
  }

  /** Score rows against a precomputed [[madBaselineOf]] artifact: keep
    * rows with |x - med| > k × MAD, deviation attached. Broadcast join
    * — the scored side never shuffles (and may be a streaming frame),
    * the [[flagOutliers]] contract with medians. `flagUnseen` emits
    * rows whose group is absent from the frozen baseline (null dev)
    * instead of dropping them — the live-gate default. */
  def madGate(rows: DataFrame, baseline: DataFrame, groupCols: Seq[String],
              valueCol: String,
              k: java.math.BigDecimal = new java.math.BigDecimal("4.4478"),
              flagUnseen: Boolean = false): DataFrame = {
    val dev = abs(dec(col(valueCol)) - col("med"))
    val hit = dev > lit(k).cast("decimal(18,4)") * col("mad")
    val unseen = col("mad").isNull
    rows.join(broadcast(baseline), groupCols, "left")
      .filter(if (flagUnseen) unseen || hit else hit)
      .withColumn("_dev", dev)
  }

  /** x60: MAD-flagged outlier events, robust twin of x33. */
  def madOutlierQuery(spark: SparkSession, dir: String): DataFrame =
    madOutliers(Tables.load(spark, dir, "events"), Seq("event_type"), "value")
      .select(col("event_id"), col("event_type"))
      .orderBy(col("event_id"))

  /** x58: 5%/95% winsorized value statistics per event_type. */
  def winsorQuery(spark: SparkSession, dir: String): DataFrame =
    winsorize(Tables.load(spark, dir, "events"),
        Seq("event_type"), "value", WinsorLo, WinsorHi)
      .orderBy(col("event_type"))

  /** x74: doc/token volumes over CUBE(lang, source) — all four grouping
    * sets (per pair, per lang, per source, grand total) from ONE scan
    * and one two-phase agg, completing the grouping-sets family next to
    * q10's ROLLUP and x65's source rollup. Subtotal rows surface as
    * 'ALL' (the corpus carries no null lang/source; a null-bearing
    * corpus would use GROUPING() masks instead of coalesce). */
  def cubeVolumesQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("lang"), col("source"),
        size(graft.operators.TextAnalysis.wsTokens(col("text")))
          .cast("long").as("_nt"))
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("n_tokens"))
      .orderBy(col("lang"), col("source"))

  /** x75: the user-behavior TRANSITION MATRIX — for each (from, to)
    * event-type pair, how many consecutive same-user event pairs step
    * from one to the other (per-user (ts, event_id) total order), plus
    * the per-from row total so downstream divides into transition
    * probabilities without a second scan. The Markov backbone of
    * session modeling / next-event prediction, the sequence-mining
    * companion to x34's funnel.
    *
    * Scale shape: one shuffle on the user key for the lead window, a
    * two-phase count agg on the (from, to) composite (|types|² rows),
    * and the per-from total as a window over that aggregated table
    * (the x57 marginal discipline — never a second scan). */
  def transitionQuery(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.load(spark, dir, "events")
      .withColumn("_next", lead(col("event_type"), 1).over(w))
      .filter(col("_next").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("_next").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .orderBy(col("from_type"), col("to_type"))
  }

  private[graft] val pivotYears: Seq[Int] = 1995 to 2001

  /** x30: the pivot round-trip — melt x29's wide table back to long
    * (n_name, yr, revenue) rows via the built-in `unpivot`, dropping the
    * null gap cells. Proves wide→long is lossless against the oracle's
    * direct long-form aggregation. `unpivot` is a pure projection+
    * generator (each input row explodes to its year columns — no
    * shuffle beyond what produced the input). */
  def unpivotQuery(spark: SparkSession, dir: String): DataFrame =
    pivotQuery(spark, dir)
      .unpivot(Array(col("n_name")),
        pivotYears.map(y => col("y" + y)).toArray, "yr", "revenue")
      .filter(col("revenue").isNotNull)
      .orderBy(col("n_name"), col("yr"))

  /** Time-range moving aggregate: per `keyCol`, the average of `valueCol`
    * over the trailing `windowUs` microseconds (inclusive) at each row —
    * a RANGE frame over event-time, the standard trailing-7-day metric.
    * The mean is decimal-summed / counted (one double division at the
    * end), so it is order-independent and cross-engine exact. One
    * shuffle on the key; the range frame scans each partition once with
    * a sliding accumulator. */
  def movingAvg(keyCol: String, tsCol: String,
                valueCol: String, windowUs: Long): Column = {
    require(windowUs >= 0, s"movingAvg: windowUs=$windowUs")
    val w = Window.partitionBy(col(keyCol)).orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-windowUs, Window.currentRow)
    // divisor over the DECIMAL image, not the raw column: dec() nulls a
    // NaN (ANSI double->decimal), and counting a value the sum skipped
    // would silently deflate the average. Identical on NaN-free data
    // (the oracle's domain); the streaming face mirrors this exactly.
    sum(dec(col(valueCol))).over(w).cast("double") / count(dec(col(valueCol))).over(w)
  }

  /** x32's trailing window: 7 days in microseconds — shared with the
    * DuckDB oracle so the two faces cannot drift. */
  private[graft] val MovingAvgWindowUs: Long = 7L * 86400 * 1000000

  /** x32: trailing-7-day moving average of value per user. */
  def movingAvgQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        movingAvg("user_id", "ts", "value", MovingAvgWindowUs).as("mavg"))
      .orderBy(col("event_id"))

  /** Z-score outliers of `valueCol` within each group: |x - mean| >
    * k*std, with mean and E[x^2] from exact decimal sums (one double
    * division/sqrt at the end — cross-engine deterministic, unlike
    * stddev over doubles whose result depends on partial-agg order).
    * Two-pass shape: a tiny per-group moments aggregate broadcast back
    * onto the fact rows — at 100 TB the fact side never shuffles. */
  /** Per-group exact decimal moments (_s1 = sum, _s2 = sum of squares,
    * _n = count) — the tiny reference artifact [[flagOutliers]] scores
    * against. Persist it (parquet) to score later data — including a
    * STREAM ([[graft.streaming.StreamingOps.anomalyStream]]) — against a
    * frozen baseline. */
  def momentsOf(rows: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol)
    rows.groupBy(col(groupCol)).agg(
      sum(dec(v)).cast("double").as("_s1"),
      sum(dec(v * v)).cast("double").as("_s2"),
      count(v).as("_n"))
  }

  /** Score `rows` against precomputed [[momentsOf]] output: keep rows
    * with |x - mean| > k*std, attach the z-score. Broadcast join — the
    * scored side never shuffles (and may be a streaming frame).
    *
    * Rows whose group is ABSENT from the baseline (possible when the
    * moments are a frozen artifact and new data carries new groups) are
    * DROPPED by default — the batch-identity behavior — or, with
    * `flagUnseen = true`, emitted as anomalies with a null z (a
    * never-seen group is arguably the strongest anomaly; a frozen-
    * baseline gate should usually turn this on). */
  def flagOutliers(rows: DataFrame, moments: DataFrame, groupCol: String,
                   valueCol: String, k: Double,
                   flagUnseen: Boolean = false): DataFrame = {
    require(k > 0, s"flagOutliers: k=$k")
    val v = col(valueCol)
    val mean = col("_s1") / col("_n")
    val std = sqrt(col("_s2") / col("_n") - mean * mean)
    val unseen = col("_n").isNull
    rows.join(broadcast(moments), Seq(groupCol), "left")
      .filter(if (flagUnseen) unseen || abs(v - mean) > lit(k) * std
              else abs(v - mean) > lit(k) * std)
      // z rounds at DECIMAL(18,4) (cross-engine exact), then presents
      // as hash-safe DOUBLE — same value, stable hash
      .withColumn("z", decOut(dec((v - mean) / std)))
      .drop("_s1", "_s2", "_n")
  }

  def zscoreOutliers(rows: DataFrame, groupCol: String, valueCol: String,
                     k: Double): DataFrame =
    flagOutliers(rows, momentsOf(rows, groupCol, valueCol), groupCol, valueCol, k)

  /** Ordered-funnel analysis: for each stage sequence step, the users
    * whose FIRST qualifying event of that type falls strictly after
    * their previous-stage timestamp and within `windowUs` of it — the
    * standard conversion funnel. Returns (stage, n_users) with stages
    * numbered so they sort in order.
    *
    * Scale shape: one per-user conditional aggregate per stage, each
    * joined to the (strictly shrinking) survivor set of the previous
    * stage on the user key — every join keys on user_id so AQE keeps one
    * partitioning, and survivor sets broadcast once small. Stages are
    * sequential by definition (stage k's filter needs stage k-1's
    * timestamp); the depth is the funnel length, not the data size. */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, stages: Seq[String], windowUs: Long): DataFrame = {
    require(stages.nonEmpty, "funnel: at least one stage")
    require(windowUs > 0, s"funnel: windowUs=$windowUs")
    val first = events.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("_stage_ts"))
    val survivors = stages.tail.scanLeft(first) { (prev, stage) =>
      events.filter(col(typeCol) === stage)
        .join(prev, userCol)
        .filter(col(tsCol) > col("_stage_ts") &&
          unix_micros(col(tsCol)) - unix_micros(col("_stage_ts")) <= windowUs)
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("_stage_ts"))
    }
    stages.zip(survivors).zipWithIndex.map { case ((stage, s), i) =>
      s.agg(count(lit(1)).as("n_users"))
        .select(lit(stageLabel(i, stage)).as("stage"), col("n_users"))
    }.reduce(_ unionByName _).orderBy(col("stage"))
  }

  /** Stage label shared by the DataFrame face and the DuckDB oracle:
    * ZERO-PADDED index so the output's ORDER BY stage is the funnel
    * order even past 9 stages (lexicographic "10_" < "2_" otherwise). */
  private[graft] def stageLabel(i: Int, stage: String): String =
    f"${i + 1}%02d_$stage"

  /** x34's conversion window (24 h in micros) and stage sequence, shared
    * with the DuckDB oracle. */
  private[graft] val FunnelWindowUs: Long = 86400000000L
  private[graft] val FunnelStages: Seq[String] = Seq("view", "click", "purchase")

  /** x34: view → click → purchase funnel with 24-hour stage windows. */
  def funnelQuery(spark: SparkSession, dir: String): DataFrame =
    funnel(Tables.load(spark, dir, "events"),
      "user_id", "event_type", "ts", FunnelStages, FunnelWindowUs)

  /** Weekly cohort retention: cohort = Monday-truncated week of the
    * user's first event; one output row per (cohort_week, week_k) with
    * the distinct users active in that week. Exact integer arithmetic
    * throughout (truncated-date day-diffs are multiples of 7).
    *
    * Scale shape: a per-user min (one hash agg), a distinct over
    * (user, cohort, week) — both shuffle on user-rooted keys — then a
    * small rollup. No windows, no skew axis beyond user activity. */
  def weeklyRetention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val first = events.groupBy(col(userCol))
      .agg(date_trunc("week", min(col(tsCol))).cast("date").as("cohort_week"))
    events.join(first, userCol)
      .select(col(userCol), col("cohort_week"),
        (datediff(date_trunc("week", col(tsCol)).cast("date"), col("cohort_week")) / 7)
          .cast("int").as("week_k"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_k"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** x35: weekly retention cohorts over the events table. */
  def retentionQuery(spark: SparkSession, dir: String): DataFrame =
    weeklyRetention(Tables.load(spark, dir, "events"), "user_id", "ts")
      .orderBy(col("cohort_week"), col("week_k"))

  /** x33's threshold, shared with the DuckDB oracle. An INTEGER-valued
    * double: the oracle interpolates it into SQL text, and "2.0" parses to
    * the identical double everywhere. */
  private[graft] val AnomalyK: Double = 2.0

  /** x33: per-event-type z-score outliers at k=2 over the events table
    * (the anomaly face of the reference's sensor domain). */
  def anomalyQuery(spark: SparkSession, dir: String): DataFrame =
    zscoreOutliers(Tables.load(spark, dir, "events"), "event_type", "value", AnomalyK)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id"))

  /** x29: revenue pivot — nation rows x order-year columns (y1995..y2001,
    * decimal-summed o_totalprice; null where a nation has no orders that
    * year). The explicit value list keeps this a single one-shuffle
    * two-phase hash agg: no driver-side distinct-values job, and the
    * column set is fixed at plan time (schema stability a 100 TB nightly
    * build needs anyway). */
  def pivotQuery(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("yr", concat(lit("y"), year(col("o_orderdate"))))
      .groupBy(col("n_name"))
      .pivot("yr", pivotYears.map("y" + _))
      .agg(dsum(col("o_totalprice")))
      .orderBy(col("n_name"))
  }

  // ------------------------------------------------- OLS trend (x80)

  /** x80: per-event-type least-squares trend of `value` over time — the
    * drift detector a data pipeline runs on every metric stream (is this
    * signal rising, and how well does a line explain it?). Engine-exact
    * by the moment method: x is the integer day offset from the global
    * min day, y is the value quantized to DECIMAL(18,4), and the five
    * sufficient moments (n, Σx, Σx², Σy, Σxy, Σy²) are exact integer /
    * decimal sums — order-independent, cross-engine identical. Only
    * then does each moment cast to DOUBLE once, and slope / intercept /
    * r² are the SAME closed-form expressions on both engines (identical
    * parenthesization), rounded to 6 decimals. A degenerate group (all
    * one day) yields null via nullif rather than an engine-specific
    * division-by-zero image.
    *
    * Scale shape: one broadcast 1-row min-day scalar, one narrow
    * projection, one 5-accumulator hash agg per group — a single
    * shuffle of |event_type| x 6 scalars; nothing sorts. */
  def trendQuery(spark: SparkSession, dir: String): DataFrame =
    trend(Tables.load(spark, dir, "events"))

  /** The regression itself over any (event_type, ts, value) frame — see
    * [[trendQuery]]. */
  def trend(events: DataFrame): DataFrame = {
    val ev = events.filter(col("value").isNotNull && col("ts").isNotNull)
    val minDay = ev.agg(min(to_date(col("ts"))).as("d0"))
    val m = ev.crossJoin(broadcast(minDay))
      .select(col("event_type"),
        datediff(to_date(col("ts")), col("d0")).cast("long").as("x"),
        dec(col("value")).as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("y") * col("y")).cast("double").as("syy"))
    val (n, sx, sxx) = (col("n").cast("double"), col("sx").cast("double"),
      col("sxx").cast("double"))
    val num = n * col("sxy") - sx * col("sy")
    val den = nullif(n * sxx - sx * sx, lit(0d))
    m.select(col("event_type"), col("n"),
        round(num / den, 6).as("slope"),
        round((col("sy") * sxx - sx * col("sxy")) / den, 6).as("intercept"),
        round(num * num / (den * (n * col("syy") - col("sy") * col("sy"))), 6)
          .as("r2"))
      .orderBy(col("event_type"))
  }

  // -------------------------------------- annotator agreement (x99)

  /** x99: ANNOTATOR AGREEMENT — the preference-label QC report an RLHF
    * data pipeline runs over raw human annotations: per annotator, how
    * many items they labeled, how often their label matched the item's
    * majority verdict, and the resulting agreement rate (the screen
    * that catches low-quality or adversarial raters before their
    * labels enter training).
    *
    * Semantics, all deterministic: an annotator's vote on an item is
    * their FIRST label (min event id) — re-labels don't double-count;
    * the majority label is the item's most-voted label, ties broken to
    * the lexicographically smallest (so a 1-1 tie has a well-defined
    * verdict on both engines); agreement is the one float division at
    * the very end (exact BIGINT counts until presentation).
    *
    * Scale shape: two hash aggregates (first-vote dedup, per-item
    * label counts) + a rank window partitioned by item (bounded by the
    * label alphabet, ≤ a handful of rows per item) + one final
    * annotator rollup. Everything keys on item or annotator — no
    * quadratic term, no driver state. */
  def annotatorAgreement(votes: DataFrame): DataFrame = {
    // first vote per (item, annotator) — min vote_id wins
    val first = votes
      .groupBy(col("item"), col("annotator"))
      .agg(min_by(col("label"), col("vote_id")).as("label"))
    val majority = first.groupBy(col("item"), col("label"))
      .agg(count(lit(1)).as("c"))
      .select(col("item"), col("label").as("maj_label"),
        row_number().over(Window.partitionBy(col("item"))
          .orderBy(col("c").desc, col("label"))).as("_r"))
      .filter(col("_r") === 1)
      .drop("_r")
    first.join(majority, Seq("item"))
      .groupBy(col("annotator"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("label") === col("maj_label"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("annotator"), col("n_items"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n_items").cast("double"), 6)
          .as("agreement"))
  }

  /** x101: one DAWID-SKENE-STYLE EM step — the accuracy-weighted
    * revote that upgrades x99's naive majority: round 1 scores every
    * annotator by majority agreement (x99's frame); round 2 re-decides
    * each item with votes weighted by their annotator's round-1
    * score, flipping items where a reliable minority outvotes an
    * unreliable crowd (the core Dawid & Skene 1979 move, one
    * iteration).
    *
    * Exactness discipline: the weight is the INTEGER
    * `(1_000_000 · n_agree) div n_items` — floor division of exact
    * BIGINTs, so per-label weight sums are order-independent BIGINT
    * arithmetic and the argmax (weight desc, label asc) is
    * cross-engine exact; no float ever enters a sum.
    *
    * Scale shape: x99's aggregates plus one broadcast-sized join
    * (weights: one row per annotator) and a second label-alphabet-
    * bounded window — nothing new shuffles the vote stream. */
  def dawidSkeneStep(votes: DataFrame): DataFrame = {
    // first is referenced four ways (vote counts, majority, weights,
    // revote) and majority twice (weights reference + the report join) —
    // unshared, the vote-dedup pipeline re-executed per reference
    // (17 jobs for one EM step; the x79/x95 discipline). Both frames are
    // item-grain and shared within the returned plan.
    val first = firstVotes(votes)
    val majority = majorityOf(first)
    val revote = revoteWith(first,
      weightsAgainst(first, majority.withColumnRenamed("maj_label", "ref_label")))
    graft.plans.Shared(first.groupBy(col("item")).agg(count(lit(1)).as("n_votes"))
      .join(majority, Seq("item")).join(revote, Seq("item"))
      .select(col("item"), col("n_votes"), col("maj_label"), col("ds_label"),
        when(col("maj_label") =!= col("ds_label"), 1L).otherwise(0L)
          .as("flipped")), first, majority)
  }

  /** First vote per (item, annotator) — min vote_id wins (the shared
    * dedup grain of x99/x101/x105). */
  private def firstVotes(votes: DataFrame): DataFrame =
    votes.groupBy(col("item"), col("annotator"))
      .agg(min_by(col("label"), col("vote_id")).as("label"))

  /** Per-item majority label, count-desc / label-asc ties (x99's rule). */
  private def majorityOf(first: DataFrame): DataFrame =
    first.groupBy(col("item"), col("label"))
      .agg(count(lit(1)).as("c"))
      .select(col("item"), col("label").as("maj_label"),
        row_number().over(Window.partitionBy(col("item"))
          .orderBy(col("c").desc, col("label"))).as("_r"))
      .filter(col("_r") === 1)
      .drop("_r")

  /** Integer annotator weights: agreement of each annotator's first
    * votes against a reference labeling (`ref`: (item, ref_label)) —
    * `(10^6 · n_agree) div n_items`, exact BIGINT floor division. */
  private def weightsAgainst(first: DataFrame, ref: DataFrame): DataFrame =
    first.join(ref, Seq("item"))
      .groupBy(col("annotator"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("label") === col("ref_label"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("annotator"),
        expr("(1000000L * n_agree) div n_items").as("iw"))

  /** Weighted argmax revote: per item, the label with the highest
    * summed annotator weight (weight desc, label asc — exact BIGINTs). */
  private def revoteWith(first: DataFrame, weights: DataFrame): DataFrame =
    first.join(broadcast(weights), Seq("annotator"))
      .groupBy(col("item"), col("label"))
      .agg(sum(col("iw")).as("w"))
      .select(col("item"), col("label").as("ds_label"),
        row_number().over(Window.partitionBy(col("item"))
          .orderBy(col("w").desc, col("label"))).as("_r"))
      .filter(col("_r") === 1)
      .drop("_r")

  /** x101 iterated to a FIXED POINT — the full Dawid & Skene (1979) EM
    * alternation rather than the single accuracy-weighted revote:
    * round r scores every annotator against the CURRENT consensus
    * (round 0's consensus is the x99 majority), re-decides every item
    * with those weights, and stops when no item's label changes or
    * after `maxIters` rounds. Every quantity stays exact BIGINT (the
    * x101 integer-weight discipline), so each round — and therefore
    * the fixed point — is cross-engine deterministic; a label cycle
    * (possible for EM on ties) is bounded by `maxIters`, committing
    * that round's frame.
    *
    * Output schema matches [[dawidSkeneStep]] — `maj_label` the round-0
    * majority, `ds_label` the FINAL consensus, `flipped` their
    * disagreement — so `maxIters = 1` is the identity (spec-asserted).
    *
    * Scale shape: the x39/x138 iteration discipline — the first-vote
    * aggregate builds once and is lineage-cut; each round is one
    * annotator-grain weight aggregate (broadcast back) plus one
    * label-alphabet-bounded window, both keyed on item/annotator; the
    * consensus frame (item-grain) is cut per round and its predecessor
    * freed, so the plan never grows with the round count. */
  def dawidSkeneConverged(votes: DataFrame, maxIters: Int = 10,
                          checkpointDir: Option[String] = None): DataFrame = {
    require(maxIters > 0, s"dawidSkeneConverged: maxIters=$maxIters")
    graft.core.IterUtil.ensureCheckpointDir(votes.sparkSession, checkpointDir)
    def cut(df: DataFrame): DataFrame =
      graft.core.IterUtil.cut(df, checkpointDir.isDefined)

    val first = cut(firstVotes(votes))
    val majority = cut(majorityOf(first))
    var consensus = majority.select(col("item"),
      col("maj_label").as("ref_label"))
    var prevCut: Option[DataFrame] = None
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val next = cut(
        revoteWith(first, weightsAgainst(first, consensus))
          .select(col("item"), col("ds_label").as("ref_label")))
      converged = next.as("n")
        .join(consensus.as("c"), Seq("item"))
        .filter(col("n.ref_label") =!= col("c.ref_label")).isEmpty
      prevCut.foreach(graft.core.IterUtil.free)
      prevCut = Some(next)
      consensus = next
      it += 1
    }
    // first/majority stay persisted: the returned frame still reads both
    // (a localCheckpoint's blocks are its ONLY copy — freeing them before
    // the caller materializes would lose the lineage-cut data)
    first.groupBy(col("item")).agg(count(lit(1)).as("n_votes"))
      .join(majority, Seq("item"))
      .join(consensus.select(col("item"), col("ref_label").as("ds_label")),
        Seq("item"))
      .select(col("item"), col("n_votes"), col("maj_label"), col("ds_label"),
        when(col("maj_label") =!= col("ds_label"), 1L).otherwise(0L)
          .as("flipped"))
  }

  /** x105: KRIPPENDORFF'S ALPHA (nominal) — the inter-rater
    * reliability coefficient reported for every human-annotation
    * campaign, over x99's vote frame: alpha = 1 − Do/De, with observed
    * disagreement Do = (1/n)·Σᵢ Σₗ nᵢₗ(nᵢ−nᵢₗ)/(nᵢ−1) over pairable
    * items (nᵢ ≥ 2 votes) and expected disagreement
    * De = Σₗ n̂ₗ(n−n̂ₗ) / (n(n−1)).
    *
    * Exactness discipline: the only non-integer intermediate is the
    * per-(item,label) Do term — rounded to 6 decimals and summed as
    * DECIMAL (order-independent; x82's proven pattern). Everything in
    * De is BIGINT. The final alpha is a pinned two-division,
    * one-subtraction DOUBLE image, round 6 (both engines spell the
    * identical parenthesization).
    *
    * Scale shape: two hash aggregates keyed on item, one on label
    * (label-alphabet-sized), and single-row reductions — the vote
    * stream shuffles once. */
  def krippendorffAlpha(votes: DataFrame): DataFrame = {
    val first = votes
      .groupBy(col("item"), col("annotator"))
      .agg(min_by(col("label"), col("vote_id")).as("label"))
    // byIl ((item, label) grain) feeds byI AND the il join; il feeds the
    // Do sum AND the De marginals — unshared, the vote pipeline
    // re-executed once per reference (16 jobs for a 3-aggregate
    // coefficient). Both are shared within the returned plan (the
    // x79/x95 discipline).
    val byIl = first.groupBy(col("item"), col("label"))
      .agg(count(lit(1)).as("n_il"))
    val byI = byIl.groupBy(col("item")).agg(sum(col("n_il")).as("n_i"))
      .filter(col("n_i") >= 2)
    val il = byIl.join(byI, Seq("item"))
    val doSum = il.select(
        round((col("n_il") * (col("n_i") - col("n_il"))).cast("double")
          / (col("n_i") - 1).cast("double"), 6)
          .cast("decimal(18,6)").as("t"))
      .agg(sum(col("t")).as("do_sum"))
    val totals = il.groupBy(col("label")).agg(sum(col("n_il")).as("n_l"))
      .crossJoin(broadcast(byI.agg(sum(col("n_i")).as("n"),
        count(lit(1)).as("n_items"))))
      .groupBy(col("n"), col("n_items"))
      .agg(sum(col("n_l") * (col("n") - col("n_l"))).as("de_num"))
    graft.plans.Shared(totals.crossJoin(broadcast(doSum))
      .select(col("n"), col("n_items"),
        round(lit(1.0d) -
          (col("do_sum").cast("double") / col("n").cast("double")) /
            (col("de_num").cast("double") /
              (col("n") * (col("n") - 1)).cast("double")), 6).as("alpha")),
      byIl, il)
  }

  /** x105's queries() face over x99's synthetic vote frame. */
  def krippendorffQuery(spark: SparkSession, dir: String): DataFrame = {
    val votes = Tables.load(spark, dir, "events")
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      .select((col("user_id") % 7).as("annotator"),
        (col("event_id") % 500).as("item"),
        col("event_type").as("label"), col("event_id").as("vote_id"))
    krippendorffAlpha(votes).orderBy(col("n"))
  }

  /** x101's queries() face over x99's synthetic vote frame. */
  def dawidSkeneQuery(spark: SparkSession, dir: String): DataFrame = {
    val votes = Tables.load(spark, dir, "events")
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      .select((col("user_id") % 7).as("annotator"),
        (col("event_id") % 500).as("item"),
        col("event_type").as("label"), col("event_id").as("vote_id"))
    dawidSkeneStep(votes).orderBy(col("item"))
  }

  /** The x99 queries() face: a synthetic annotation frame derived
    * DETERMINISTICALLY from events (so the DuckDB twin rebuilds it):
    * annotator = user_id mod 7, item = event_id mod 500, label =
    * event_type, vote id = event_id. Each item collects ~20 votes
    * across the 7 raters at sf0.01 — enough collisions to exercise
    * the first-vote dedup and the majority tie-break. */
  def annotatorQuery(spark: SparkSession, dir: String): DataFrame = {
    val votes = Tables.load(spark, dir, "events")
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      .select((col("user_id") % 7).as("annotator"),
        (col("event_id") % 500).as("item"),
        col("event_type").as("label"), col("event_id").as("vote_id"))
    annotatorAgreement(votes).orderBy(col("annotator"))
  }

  // --------------------------------- time-decayed popularity (x111)

  /** x111's half-life in days, shared with the DuckDB twin. */
  private[graft] val DecayHalflifeDays: Double = 7.0

  /** x111: TIME-DECAYED POPULARITY — per event type, the
    * exponentially-decayed event count at the corpus's newest day:
    * each event contributes 0.5^(age_days / halflife), so a signal's
    * score halves every `halflife` days of silence. The recency-aware
    * leaderboard every feed-prioritization / trending-source ranking
    * runs — a raw count ranks a dead-but-huge source above a live one;
    * the decayed count does not. The live form is
    * [[graft.streaming.StreamingOps.decayStream]], whose converged
    * state equals this batch face at the same reference day.
    *
    * Determinism: age_days is an exact integer day difference from the
    * corpus max day (data-derived, so the query is self-contained and
    * re-runnable); each per-event weight is one correctly-rounded
    * division and one pow, pinned at 6 decimals into DECIMAL(18,6)
    * (the x81/x82 transcendental discipline); the per-type sum is
    * exact decimal arithmetic, emitted as DOUBLE (decOut).
    *
    * Shape: a broadcast 1-row max-day scalar, one narrow projection,
    * one hash agg on |event_type| keys — map-side partials collapse
    * everything; the shuffle carries a handful of rows. */
  def decayPopularity(events: DataFrame,
                      halflifeDays: Double = DecayHalflifeDays): DataFrame = {
    val ev = events.filter(col("ts").isNotNull)
    val refDay = ev.agg(max(to_date(col("ts"))).as("d1"))
    ev.crossJoin(broadcast(refDay))
      .select(col("event_type"),
        round(pow(lit(0.5),
          datediff(col("d1"), to_date(col("ts"))).cast("double") /
            lit(halflifeDays)), 6)
          .cast("decimal(18,6)").as("w"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("w")).cast("double").as("decayed_count"))
  }

  def decayPopularityQuery(spark: SparkSession, dir: String): DataFrame =
    decayPopularity(Tables.load(spark, dir, "events"))
      .orderBy(col("event_type"))

  // ------------------------------------- conversion lag (x117)

  /** x117: CONVERSION LAG — per user, the seconds between their FIRST
    * `from` event and their FIRST `to` event (first-touch attribution;
    * users whose first `to` precedes their first `from` never
    * converted THROUGH the funnel and are excluded): the latency
    * dimension x34's funnel counts don't carry, and the input to any
    * time-to-convert percentile or cohort curve. All-integer output
    * (unix seconds both sides — both engines floor the microseconds),
    * one row per converting user.
    *
    * Shape: two filtered min-aggregates over one scan range, then an
    * equi-join on user_id — both sides pre-aggregated to one row per
    * user before the join, so the shuffle carries |users|, not
    * |events|, and AQE can broadcast the smaller (converter) side. */
  def conversionLag(events: DataFrame, from: String = "view",
                    to: String = "purchase"): DataFrame = {
    val ev = events.filter(col("ts").isNotNull && col("user_id").isNotNull)
    def firstOf(t: String, as: String) =
      ev.filter(col("event_type") === t)
        .groupBy(col("user_id")).agg(min(col("ts")).as(as))
    firstOf(from, "t_from").join(firstOf(to, "t_to"), Seq("user_id"))
      .filter(col("t_to") >= col("t_from"))
      .select(col("user_id"),
        unix_timestamp(col("t_from")).as("from_sec"),
        unix_timestamp(col("t_to")).as("to_sec"),
        (unix_timestamp(col("t_to")) - unix_timestamp(col("t_from")))
          .as("lag_sec"))
  }

  def conversionLagQuery(spark: SparkSession, dir: String): DataFrame =
    conversionLag(Tables.load(spark, dir, "events"))
      .orderBy(col("user_id"))

  // ------------------------------------ co-occurrence lift (x122)

  /** x122: EVENT CO-OCCURRENCE LIFT — for every unordered pair of
    * event types, how many users did both, and the lift
    * N·n_ab / (n_a·n_b): >1 means doing one predicts doing the other
    * (market-basket association at the user grain). Complements x75's
    * transition matrix (sequential, order-sensitive) with the
    * order-free association view.
    *
    * Determinism: all supports are exact distinct-user counts; the
    * lift converts each count to double FIRST and uses the same
    * parenthesization on both engines (no i64 product can overflow —
    * products never form in integers), round 6.
    *
    * Shape: one scan → per-user distinct type set (hash agg) → a
    * per-user self-join whose fan-out is |types|² per user (types are
    * a handful, so the pair explosion is bounded) → |types|²-keyed
    * aggregate; type marginals and the user total are aggregate-grain
    * side tables, broadcast back. */
  def cooccurrenceLift(events: DataFrame): DataFrame = {
    val ut = events
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type")).distinct()
    val marg = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val tot = ut.agg(count_distinct(col("user_id")).as("n_users"))
    val a = ut.select(col("user_id"), col("event_type").as("type_a"))
    val b = ut.select(col("user_id"), col("event_type").as("type_b"))
    a.join(b, Seq("user_id")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(marg.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(marg.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(tot))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_ab"),
        round(col("n_users").cast("double") * col("n_ab").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("lift"))
  }

  def cooccurrenceLiftQuery(spark: SparkSession, dir: String): DataFrame =
    cooccurrenceLift(Tables.load(spark, dir, "events"))
      .orderBy(col("type_a"), col("type_b"))

  // ------------------------------------- dialog sequence audit (x125)

  /** x125: DIALOG / SEQUENCE-INTEGRITY AUDIT — per thread (here the
    * user's event stream as the stand-in conversation): turn count,
    * distinct roles, ALTERNATION BREAKS (consecutive turns by the same
    * role — the malformed-conversation signal an instruction-data
    * pipeline rejects before pairing turns into training examples),
    * and the thread's time span. The sequence-validation shape: one
    * lag window per thread in a total (ts, event_id) order, so ties
    * cannot flip verdicts between engines.
    *
    * Shape: one scan → per-thread window (partitioned — no global
    * sort) → per-thread hash agg. All-integer output. */
  def dialogAudit(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id").as("thread_id"), col("event_type").as("role"),
        col("ts"), col("event_id"))
    val w = Window.partitionBy(col("thread_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_role", lag(col("role"), 1).over(w))
      .groupBy(col("thread_id"))
      .agg(count(lit(1)).as("n_turns"),
        count_distinct(col("role")).as("n_roles"),
        sum(when(col("role") === col("prev_role"), 1L).otherwise(0L))
          .as("n_breaks"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("span_sec"))
  }

  def dialogAuditQuery(spark: SparkSession, dir: String): DataFrame =
    dialogAudit(Tables.load(spark, dir, "events"))
      .orderBy(col("thread_id"))

  // ----------------------------------- SFT pair extraction (x146)

  /** x146: SFT TURN-PAIR EXTRACTION — the step x125's audit gates:
    * pair each turn with its PREDECESSOR when the roles alternate
    * (prompt → response), per thread in the same total (ts, event_id)
    * order. Same-role consecutive turns (x125's breaks) pair with
    * nothing — exactly the malformed spans the audit counts — so the
    * two operators reconcile: pairs-per-thread = turns − breaks − 1
    * for single-break-free threads. Emits ids + roles + the response
    * gap, never payloads (the x05 ids-only discipline: downstream
    * joins fetch text by event id).
    *
    * Shape: one scan → per-thread lag + rank windows (partitioned,
    * same order — ONE sort serves both) → pure filter. */
  def sftPairs(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id").as("thread_id"), col("event_type").as("role"),
        col("ts"), col("event_id"))
    val w = Window.partitionBy(col("thread_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_role", lag(col("role"), 1).over(w))
      .withColumn("prev_event", lag(col("event_id"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("turn_idx", row_number().over(w).cast("long"))
      .filter(col("prev_role").isNotNull && col("prev_role") =!= col("role"))
      .select(col("thread_id"), col("turn_idx"),
        col("prev_event").as("prompt_event"),
        col("event_id").as("response_event"),
        col("prev_role").as("prompt_role"),
        col("role").as("response_role"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")))
          .as("gap_sec"))
  }

  def sftPairsQuery(spark: SparkSession, dir: String): DataFrame =
    sftPairs(Tables.load(spark, dir, "events"))
      .orderBy(col("thread_id"), col("turn_idx"))

  // ------------------------------------------- rate bursts (x126)

  /** x126's z threshold, shared with the DuckDB twin. */
  private[graft] val BurstZ: Double = 2.0

  /** x126: RATE-BURST DETECTION — hourly event counts per type, each
    * hour z-scored against ITS TYPE's own hourly distribution; hours
    * with z ≥ 2 flag as bursts. The volume-anomaly complement to x33
    * (which z-scores the VALUE column): an ingestion spike, a bot
    * burst, a dead feed's flatline all show up here first. Counts and
    * their moments are exact integers (no decimal needed — the x80
    * argument specialized to integer observations); mean/variance/z
    * are the same closed-form double expressions on both engines,
    * round 6. Single-bucket types yield null z via nullif.
    *
    * Shape: one scan → (type, hour) hash agg → per-type moments over
    * the bucket-grain aggregate (a second tiny agg + broadcast back)
    * — raw events shuffle once. */
  def rateBursts(events: DataFrame, zThreshold: Double = BurstZ): DataFrame = {
    val buckets = hourlyBuckets(events)
    val m = buckets.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
    val (n, sc, scc) = (col("n").cast("double"), col("sc").cast("double"),
      col("scc").cast("double"))
    val mean = sc / n
    val variance = (n * scc - sc * sc) / nullif(n * (n - 1), lit(0d))
    val z = (col("c").cast("double") - mean) / nullif(sqrt(variance), lit(0d))
    buckets.join(broadcast(m), Seq("event_type"))
      .select(col("event_type"), col("hour_sec"), col("c"),
        round(z, 6).as("z"),
        when(round(z, 6) >= zThreshold, 1L).otherwise(0L).as("burst"))
  }

  /** x126's (type, hour) count grain, shared by the batch face and the
    * moment extraction the streaming face freezes. */
  def hourlyBuckets(events: DataFrame): DataFrame =
    events.filter(col("ts").isNotNull)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_sec"))
      .agg(count(lit(1)).as("c"))

  /** The per-type hourly moments (n, Σc, Σc²) over a reference window —
    * what [[graft.streaming.StreamingOps.burstStream]] freezes. */
  def rateMoments(events: DataFrame): DataFrame =
    hourlyBuckets(events).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))

  def rateBurstsQuery(spark: SparkSession, dir: String): DataFrame =
    rateBursts(Tables.load(spark, dir, "events"))
      .orderBy(col("event_type"), col("hour_sec"))

  // ------------------------------------ Spearman correlation (x134)

  /** x134: SPEARMAN RANK CORRELATION between two per-doc quality
    * signals (token count vs punctuation count), per source — the
    * confounding check run before trusting any single quality score:
    * a source where "quality" is just length in disguise (|ρ| near 1)
    * needs decorrelated gates. Ranks are row_number over a TOTAL
    * (value, doc_id) order — the deterministic tie policy, chosen over
    * classical average-rank ties because it keeps every rank an exact
    * integer (average ranks are .5-fractional under ties); under heavy
    * ties the statistic is the tie-broken variant and is documented as
    * such. With permutation ranks both marginals are fixed, so
    * ρ = 1 − 6·Σd²/(n·(n²−1)) exactly; each d² is an exact i64 but
    * Σd² ≤ n³ outgrows i64 near n ≈ 2M rows per source, so the sum
    * accumulates in DECIMAL(38,0) (exact to n ≈ 10¹², matching
    * DuckDB's HUGEINT accumulator) and is emitted as its
    * correctly-rounded double; ρ is ONE double division, round 6.
    *
    * Shape: one scan → two per-source rank windows over the narrow
    * (source, len, punct, doc_id) projection → per-source sum. The
    * window form funnels each source through ONE task (the per-group
    * rank sort is partition-local); when a single source outgrows an
    * executor, use [[spearmanDistributed]] — the identical statistic
    * with ranks from the range-partitioned grouped prefix scan
    * ([[Sampling.groupedRanks]]), spec-asserted row-identical on a
    * skewed fixture. */
  def spearman(docs: DataFrame): DataFrame = {
    val wLen = Window.partitionBy(col("source"))
      .orderBy(col("len"), col("doc_id"))
    val wPun = Window.partitionBy(col("source"))
      .orderBy(col("punct"), col("doc_id"))
    val d = col("rx") - col("ry")
    docs.select(col("source"), col("doc_id"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("len"),
        regexp_count(col("text"), lit("[.!?,;:]")).cast("long").as("punct"))
      .withColumn("rx", row_number().over(wLen).cast("long"))
      .withColumn("ry", row_number().over(wPun).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((d * d).cast("decimal(38,0)")).as("d2"))
      .select(col("source"), col("n_docs"),
        col("d2").cast("double").as("sum_d2"),
        round(lit(1.0) - lit(6.0) * col("d2").cast("double") /
          (col("n_docs").cast("decimal(38,0)") *
            (col("n_docs").cast("decimal(38,0)") *
              col("n_docs").cast("decimal(38,0)") - 1)).cast("double"),
          6).as("rho"))
  }

  def spearmanQuery(spark: SparkSession, dir: String): DataFrame =
    spearman(Tables.load(spark, dir, "documents"))
      .orderBy(col("source"))

  // ------------------------- Bradley-Terry preference fit (x167)

  /** x167's iteration count, shared with the DuckDB twin. */
  private[graft] val BtIters: Int = 5

  /** x167: BRADLEY-TERRY PREFERENCE-STRENGTH FIT — the pairwise-
    * preference analytics an RLHF data pipeline runs over its
    * comparison data (which completion source / model variant /
    * prompt family actually wins head-to-heads): Hunter (2004)'s MM
    * fixed point w_i ← W_i / Σ_j n_ij/(w_i+w_j), run [[BtIters]]
    * rounds from the uniform start over add-one-smoothed pair counts
    * (one pseudo-win each way per observed pair keeps every strength
    * strictly positive and the recursion division-safe), then
    * normalized to Σw = |items|. x99/x101/x105 audit LABEL quality;
    * x167 is the companion for PREFERENCE data — its strengths are
    * the quality ladder a comparison-data release publishes.
    *
    * Determinism (the x158 collected-iteration discipline): the pair
    * aggregate is exact BIGINTs; each MM term n'/(w_i+w_j) rounds at
    * 6 into DECIMAL(18,6) and the per-item denominator is an exact
    * decimal sum of those pinned images (order-independent), as is
    * the normalization mass of the round-6 weights — so DuckDB's
    * unrolled CTE chain and this driver-side loop cannot drift.
    *
    * Scale shape: the comparison stream aggregates ONCE to the
    * unordered-pair grain — the only corpus-sized work, a two-phase
    * hash agg on (min,max) item keys — and the fit runs on the
    * COLLECTED pair table, bounded by |items|² (the codebook
    * discipline: a rating universe is model variants or prompt
    * sources, not documents). Output is |items| rows. */
  def bradleyTerry(prefs: DataFrame, iters: Int = BtIters): DataFrame = {
    import java.math.{BigDecimal => JBD}
    require(iters > 0, s"bradleyTerry: iters=$iters")
    val spark = prefs.sparkSession
    import spark.implicits._
    val a = least(col("winner"), col("loser"))
    val b = greatest(col("winner"), col("loser"))
    val rows = prefs
      .filter(col("winner").isNotNull && col("loser").isNotNull &&
        col("winner") =!= col("loser"))
      .select(a.cast("long").as("a"), b.cast("long").as("b"),
        when(col("winner") < col("loser"), 1L).otherwise(0L).as("win_a"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"), sum(col("win_a")).as("wins_a"))
      .collect()
    require(rows.nonEmpty, "bradleyTerry: no valid comparisons")
    // smoothed directed view: (item, other, n' = n+2, wins' = wins+1)
    val pairs = rows.flatMap { r =>
      val (pa, pb, n, wa) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      Seq((pa, pb, n + 2L, wa + 1L), (pb, pa, n + 2L, n - wa + 1L))
    }
    val items = pairs.map(_._1).distinct.sorted
    val k = items.length
    val byItem = pairs.groupBy(_._1)
    val winsOf = byItem.map { case (i, ps) => i -> ps.map(_._4).sum }
    def r6(v: Double): JBD =
      JBD.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP)
    var w: Map[Long, JBD] = items.map(_ -> r6(1.0)).toMap
    for (_ <- 1 to iters) {
      val raw = items.map { i =>
        // exact decimal sum of the round-6 term images
        val den = byItem(i).foldLeft(JBD.ZERO) { case (acc, (_, j, n2, _)) =>
          acc.add(r6(n2.toDouble /
            (w(i).doubleValue + w(j).doubleValue)))
        }
        i -> r6(winsOf(i).toDouble / den.doubleValue)
      }
      val mass = raw.foldLeft(JBD.ZERO)((acc, iv) => acc.add(iv._2))
      w = raw.map { case (i, v) =>
        i -> r6(v.doubleValue * k / mass.doubleValue)
      }.toMap
    }
    val rawWins = rows.flatMap { r =>
      Seq((r.getLong(0), r.getLong(2), r.getLong(3)),
        (r.getLong(1), r.getLong(2), r.getLong(2) - r.getLong(3)))
    }.groupBy(_._1).map { case (i, ps) =>
      i -> (ps.map(_._2).sum, ps.map(_._3).sum)
    }
    items.map { i =>
      val (g, wn) = rawWins(i)
      (i, g, wn, w(i).doubleValue)
    }.toSeq.toDF("item", "n_games", "n_wins", "strength")
  }

  /** The x167 queries() face: synthetic comparisons derived
    * DETERMINISTICALLY from events so the oracle rebuilds them — items
    * 0..4, pair (a, b) from user_id residues (offset 1..4 keeps
    * a ≠ b), and the planted winner rule
    * `event_id % (a+b+2) < a+1` IS a Bradley-Terry model with
    * strengths ∝ item+1 — so the fit must recover the ascending
    * ladder (spec-asserted). */
  def bradleyTerryQuery(spark: SparkSession, dir: String): DataFrame =
    bradleyTerry(plantedComparisons(spark, dir).select(
        col("winner"), col("loser")))
      .orderBy(col("item"))

  /** The planted comparison frame x167 and x172 share: (cmp_id, winner,
    * loser) — see [[bradleyTerryQuery]] for the residue model. */
  private[graft] def plantedComparisons(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .filter(col("event_id").isNotNull && col("user_id").isNotNull)
    val pa = col("user_id") % 5
    val pb = (pa + 1 + (col("user_id") % 4)) % 5
    val aWins = (col("event_id") % (pa + pb + 2)) < (pa + 1)
    events.select(col("event_id").as("cmp_id"),
      when(aWins, pa).otherwise(pb).cast("long").as("winner"),
      when(aWins, pb).otherwise(pa).cast("long").as("loser"))
  }

  // ------------------- calibration audit (x177, ECE) ------------------

  /** x177's reliability-diagram bin count, shared with the DuckDB
    * twin. */
  private[graft] val CalibBins: Int = 10

  /** x177: CALIBRATION AUDIT — the reliability diagram + expected
    * calibration error (Guo et al. 2017) over (confidence, correct)
    * prediction pairs: per confidence bin, the count, mean confidence,
    * accuracy, and |accuracy − confidence| gap; plus ONE summary row
    * (bin = −1) whose `gap` is the ECE — the n-weighted mean of the
    * per-bin gaps. The check an RLHF pipeline runs on its reward model
    * before trusting its scores to gate data (an over-confident scorer
    * silently poisons every downstream selection threshold).
    *
    * Determinism: `conf` is a round-6 image; bin assignment is integer
    * floor with the conf==1.0 edge clamped into the top bin; per-bin
    * means are exact DECIMAL(18,6) sums with ONE rounded double
    * division each (the x168 avg discipline); the per-bin gap is the
    * round-6 |difference| of those images, and the ECE sums exact
    * n×gap decimal products before its one rounded division — every
    * inexact step lands where the twin lands it.
    *
    * Scale shape: one scan → narrow projection → hash agg on |bins|
    * keys (map-side partials collapse everything); the summary row
    * aggregates the |bins|-row result, not the corpus. */
  def calibrationBins(preds: DataFrame, bins: Int = CalibBins): DataFrame = {
    require(bins > 0, s"calibrationBins: bins=$bins")
    // clamp BOTH edges: conf==1.0 folds into the top bin, and any
    // out-of-range conf < 0 folds into bin 0 — an unclamped negative
    // yields bin <= -1, colliding with calibrationAudit's bin=-1 ECE
    // summary sentinel (ambiguous duplicate rows for a garbage input)
    val b = greatest(lit(0L),
      least(floor(col("conf") * bins), lit(bins - 1L))).cast("long")
    preds
      .filter(col("conf").isNotNull && col("correct").isNotNull)
      .select(b.as("bin"), col("conf"), col("correct").cast("long").as("c"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("conf").cast("decimal(18,6)")).as("_sc"),
        sum(col("c")).as("_nc"))
      .select(col("bin"), col("n"),
        round(col("_sc").cast("double") / col("n").cast("double"), 6)
          .as("avg_conf"),
        round(col("_nc").cast("double") / col("n").cast("double"), 6)
          .as("accuracy"))
      .withColumn("gap",
        round(abs(col("accuracy") - col("avg_conf")), 6))
  }

  /** The per-bin table plus the bin = −1 ECE summary row — see
    * [[calibrationBins]]. The summary aggregates the |bins|-row result
    * (two aggregation layers, so the STREAMING face is the per-bin
    * form alone — one incremental aggregate). */
  def calibrationAudit(preds: DataFrame, bins: Int = CalibBins): DataFrame = {
    val per = calibrationBins(preds, bins)
    // n-weighted means of the round-6 per-bin images (exact decimal
    // products and sums; one rounded division each) — the summary row
    // is a function of the published table, so a reader can re-derive
    // it from the rows above it
    val total = per.agg(
        sum(col("n")).as("n"),
        sum(col("avg_conf").cast("decimal(18,6)") * col("n")).as("_wc"),
        sum(col("accuracy").cast("decimal(18,6)") * col("n")).as("_wa"),
        sum(col("gap").cast("decimal(18,6)") * col("n")).as("_wg"))
    per.unionByName(total.select(lit(-1L).as("bin"), col("n"),
      round(col("_wc").cast("double") / col("n").cast("double"), 6)
        .as("avg_conf"),
      round(col("_wa").cast("double") / col("n").cast("double"), 6)
        .as("accuracy"),
      round(col("_wg").cast("double") / col("n").cast("double"), 6)
        .as("gap")))
  }

  /** The x177 queries() face: a PLANTED prediction stream from events —
    * conf = round((event_id % 97 + 0.5) / 97, 6) sweeps the unit
    * interval, and `correct` fires when an independent residue lands
    * under the same threshold, so the model is calibrated in
    * expectation and every bin carries a real finite-sample gap. */
  def calibrationQuery(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .filter(col("event_id").isNotNull && col("user_id").isNotNull)
    calibrationAudit(events.select(
        round(((col("event_id") % 97) + 0.5) / 97.0, 6).as("conf"),
        when((col("user_id") % 97) < (col("event_id") % 97), 1L)
          .otherwise(0L).as("correct")))
      .orderBy(col("bin"))
  }

  // ----------- frozen-ladder upset scoring (x172 + artifact) ----------

  /** Persist the [[bradleyTerry]] ladder as a frozen artifact
    * (`path/strengths`, |items| rows — KBs): the published quality
    * ladder of a comparison-data release, and the frozen side of the
    * live upset monitor ([[btUpsetsAgainst]] /
    * [[graft.streaming.StreamingOps.btUpsetStream]]). Atomic publish so
    * a reader never sees a half-written ladder. */
  def saveBtStrengths(prefs: DataFrame, path: String,
                      iters: Int = BtIters): Unit = {
    val spark = prefs.sparkSession
    graft.core.DeltaIndex.publish(spark, path) { dir =>
      bradleyTerry(prefs, iters).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/strengths")
    }
  }

  /** x172: UPSET SCORING against a frozen Bradley-Terry ladder — each
    * comparison (cmp_id, winner, loser) gets the model's expected
    * win probability for the observed winner,
    * p_win = round(s_w / (s_w + s_l), 6), and an upset flag
    * (p_win < 0.5: the model expected the other side). The monitor an
    * RLHF pipeline runs over arriving comparisons — a rater or a
    * model-variant drifting off the published ladder shows up as an
    * upset-rate shift long before the next full refit. Comparisons
    * whose items are off the ladder carry no expectation and are
    * dropped (inner joins — the x60/x68 frozen-gate convention is
    * pass-through; HERE an unknown item means the probability is
    * undefined, not neutral).
    *
    * Determinism: strengths are x167's round-6 images; both engines
    * then run the IDENTICAL double add + divide on the identical
    * operands and round the one image at 6 — the x94 margin
    * discipline (multiple float ops, same operand order, pinned
    * presentation). Stateless: two broadcast-sized joins + a
    * projection — stream-safe as-is. */
  def btUpsetsAgainst(comparisons: DataFrame, strengths: DataFrame): DataFrame =
    comparisons
      .join(strengths.select(col("item").as("winner"),
        col("strength").as("_sw")), Seq("winner"))
      .join(strengths.select(col("item").as("loser"),
        col("strength").as("_sl")), Seq("loser"))
      .select(col("cmp_id"), col("winner"), col("loser"),
        round(col("_sw") / (col("_sw") + col("_sl")), 6).as("p_win"))
      .withColumn("upset", when(col("p_win") < 0.5, 1L).otherwise(0L))

  /** The x172 queries() face: the x167 planted comparisons scored
    * against the ladder fit on those same comparisons (in-run frozen
    * copy; the disk round-trip is spec-gated). The planted model's
    * ascending ladder makes every pa-beats-pb row with pa < pb a
    * non-upset and the reverse rows upsets — spec-asserted against the
    * residue rule directly. */
  def btUpsetsQuery(spark: SparkSession, dir: String): DataFrame = {
    val cmp = plantedComparisons(spark, dir)
    btUpsetsAgainst(cmp, bradleyTerry(cmp.select(col("winner"), col("loser"))))
      .orderBy(col("cmp_id"))
  }

  /** The 100 TB face of [[spearman]]: identical statistic, but each
    * permutation rank comes from [[Sampling.groupedRanks]] — a range
    * partition on (source, signal, doc_id) plus a two-job grouped
    * prefix scan — instead of a rank window, so a monster source spans
    * MANY tasks rather than sorting inside one. Two range shuffles (one
    * per signal) replace the window form's single hash shuffle: pay
    * that when any one group can exceed an executor's spill budget. */
  def spearmanDistributed(docs: DataFrame, numPartitions: Int = 0): DataFrame = {
    val base = docs.select(col("source"), col("doc_id"),
      size(TextAnalysis.wsTokens(col("text"))).cast("long").as("len"),
      regexp_count(col("text"), lit("[.!?,;:]")).cast("long").as("punct"))
    val withRx = Sampling.groupedRanks(base, Seq("source"),
      Seq(col("len"), col("doc_id")), "rx", numPartitions)
    val ranked = Sampling.groupedRanks(withRx, Seq("source"),
      Seq(col("punct"), col("doc_id")), "ry", numPartitions)
    val d = col("rx") - col("ry")
    ranked
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((d * d).cast("decimal(38,0)")).as("d2"))
      .select(col("source"), col("n_docs"),
        col("d2").cast("double").as("sum_d2"),
        round(lit(1.0) - lit(6.0) * col("d2").cast("double") /
          (col("n_docs").cast("decimal(38,0)") *
            (col("n_docs").cast("decimal(38,0)") *
              col("n_docs").cast("decimal(38,0)") - 1)).cast("double"),
          6).as("rho"))
  }
}
