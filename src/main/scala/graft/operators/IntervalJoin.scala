package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Point-in-interval join WITHOUT an equi key — the time-window
  * attribution / IP-range-lookup shape. Spark plans a bare
  * `p BETWEEN d0 AND d1` join as BroadcastNestedLoopJoin (every point
  * against every interval — quadratic, the one join strategy that
  * cannot scale), so the scalable form bins both sides first: an
  * interval spanning days [d0, d1] explodes to its covered
  * `binDays`-wide buckets, a point maps to exactly one bucket, and the
  * bucket equi-join + exact residual recovers precisely the BETWEEN
  * pairs. Candidate volume drops from |intervals| × |points| to the
  * pairs sharing a bucket — with bounded interval length L the blow-up
  * factor is ceil(L/binDays) + 1 per interval, a constant, so the whole
  * operator is one explode + one shuffled equi-join, the same
  * bucket-join discipline every dedup/ANN operator here follows.
  *
  * Bin sizing: cost ∝ interval replication (L/binDays) × per-bucket
  * point density (binDays) — the optimum is binDays ≈ typical interval
  * length; pass the corpus's p50 length. Unbounded-length outliers
  * replicate proportionally (they are rare by definition; a corpus of
  * mostly-unbounded intervals wants an interval TREE, not binning).
  *
  * Reference scope: the reference engine (time-series ingestion,
  * SURVEY §0) has no join at all; this extends the engine per the
  * north-star contract alongside q07's equi+residual range join.
  */
object IntervalJoin {

  /** Per-interval count of points falling in [d0, d1] (both ends
    * inclusive), zero-count intervals included.
    *
    * `intervals`: (id LONG, d0 DATE, d1 DATE) with d0 <= d1;
    * `points`: (d DATE). Binning arithmetic uses `unix_date` (days
    * since epoch) with floor division, so pre-1970 dates bin correctly.
    *
    * Counting is aggregation-commutative, so the point side collapses
    * to per-DAY counts BEFORE the bucket join (a two-phase count agg on
    * the day key) and each interval sums day-counts instead of meeting
    * raw points: join volume drops from |intervals| × points-per-window
    * to |intervals| × days-per-window — at a million points a day,
    * six orders of magnitude. The day table stays distributed (a date
    * domain is bounded but its counts are not broadcast-assumed); a
    * general per-pair interval join (arbitrary payload, not a count)
    * skips the pre-aggregation and pays the raw fan-out. */
  def pointInIntervalCount(intervals: DataFrame, points: DataFrame,
                           binDays: Int): DataFrame = {
    require(binDays > 0, s"pointInIntervalCount: binDays=$binDays")
    def bin(d: org.apache.spark.sql.Column) =
      floor(unix_date(d).cast("long").cast("double") / binDays).cast("long")
    val iv = intervals.withColumn("_bin",
      explode(sequence(bin(col("d0")), bin(col("d1")))))
    val dayCounts = points.groupBy(col("d")).agg(count(lit(1)).as("_dn"))
      .withColumn("_bin", bin(col("d")))
    // LEFT join + conditional sum: every interval emits >= 1 bin row, so
    // zero-hit intervals ride the same aggregate as hits and the former
    // second interval scan + report-grain left join are gone (the inner
    // join dropped them and re-attached the zero rows from a fresh scan)
    iv.join(dayCounts, Seq("_bin"), "left")
      .groupBy(col("id"))
      .agg(coalesce(sum(when(col("d").between(col("d0"), col("d1")),
        col("_dn"))), lit(0L)).as("n_hits"))
  }

  /** Top-k points per interval by score — the general-payload form of
    * [[pointInIntervalCount]] (the joined rows carry point attributes,
    * not just a count). The same two scale levers apply:
    *
    *   - the bucket equi-join replaces the nested loop;
    *   - top-k is aggregation-commutative like counting, so the point
    *     side pre-reduces to its per-DAY top-k before the join (an
    *     interval covers whole days, so its global top-k is a subset of
    *     its days' top-ks) — join volume is |intervals| ×
    *     days-per-window × k, independent of the points-per-day rate.
    *
    * Both top-k windows are rank-over-high-cardinality-partition shapes
    * (day, then interval id), so WindowGroupLimit bounds what reaches
    * each sort. `points`: (d DATE, pt_orderkey, pt_linenumber, score);
    * ties break on (pt_orderkey, pt_linenumber) — a total order, so the
    * result is deterministic cross-engine. Intervals with no points in
    * range are absent (a top-k join, not a report). */
  def topKPointsPerInterval(intervals: DataFrame, points: DataFrame,
                            binDays: Int, k: Int): DataFrame = {
    require(binDays > 0 && k > 0, s"topKPointsPerInterval: binDays=$binDays k=$k")
    def bin(d: org.apache.spark.sql.Column) =
      floor(unix_date(d).cast("long").cast("double") / binDays).cast("long")
    val order = Seq(col("score").desc, col("pt_orderkey"), col("pt_linenumber"))
    val dayTop = points
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("d")).orderBy(order: _*)))
      .filter(col("_r") <= k).drop("_r")
      .withColumn("_bin", bin(col("d")))
    intervals
      .withColumn("_bin", explode(sequence(bin(col("d0")), bin(col("d1")))))
      .join(dayTop, Seq("_bin"))
      .filter(col("d").between(col("d0"), col("d1")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("id")).orderBy(order: _*)))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank"), col("pt_orderkey"), col("pt_linenumber"),
        col("score"))
  }

  /** Broadcast-calendar form of [[topKPointsPerInterval]] — the plan
    * x61 actually runs, and the scale path whenever the DAY-TOP-K table
    * is bounded. The join form ships every surviving (interval, point)
    * pair through a shuffle — |intervals| × days-per-window × k rows no
    * matter how it is ranked (window or heap; both were measured at
    * ~5s/sf0.1 against this form's ~0.5s). But after the per-day
    * pre-reduction the point side is AT MOST |days| × k rows — a
    * codebook-class artifact (ten years of days at k=3 is ~11k entries),
    * the same bounded-collect discipline as the IVF codebook and the
    * PageRank dangling-mass scalar. So: reduce per day distributed,
    * collect the calendar once, and the whole query collapses to a
    * SHUFFLE-FREE projection over intervals — the native
    * [[graft.functions.expressions.IntervalTopK]] kernel walks the
    * window's day slots (dense array index, O(1) per day) and
    * insertion-selects the k best in one JVM call per row. Zero joins,
    * zero aggregation over interval-point pairs. (Two rejected
    * encodings, measured: a literal MAP linear-scans per element_at —
    * 38s at sf0.1; a transform/array_sort HOF composition is
    * CodegenFallback — 12.5s; the kernel runs 1.5s.)
    *
    * `points`: (d DATE, pt_key LONG, score DOUBLE), pt_key NON-NULL,
    * ascending order = the tie-break. Cell-identical to the window form
    * (JoinsSpec).
    *
    * The scale guard is SELF-ENFORCING: the collect is capped at
    * `maxCalendarEntries` rows (a `limit` rides the same job, so an
    * over-bound domain can never flood the driver), and the dense
    * [min-day, max-day] slot array — which grows with the SPAN, so one
    * stray far-past/future date (bad data) would inflate it past the
    * days-with-data count — is held to the same bound. Either trip
    * delegates to [[topKPointsPerIntervalJoin]] (`fallbackBinDays`
    * buckets), the distributed form with identical output. */
  def topKPointsPerIntervalBroadcast(intervals: DataFrame, points: DataFrame,
                                     k: Int,
                                     maxCalendarEntries: Int = 1 << 20,
                                     fallbackBinDays: Int = 7): DataFrame =
    collectDayCalendar(points, k, maxCalendarEntries) match {
      case Some(dayTop) => calendarKernelProject(intervals, dayTop, k)
      case None => topKPointsPerIntervalJoin(intervals, points, fallbackBinDays, k)
    }

  /** Distributed per-day top-k, then ONE bounded collect (days × k,
    * limit-capped so the driver never sees more than the bound + 1
    * rows). Returns None when the entry count OR the dense day SPAN
    * exceeds `maxEntries` — the caller picks the distributed plan. Also
    * the x61 streaming face's frozen-calendar builder
    * ([[graft.streaming.StreamingOps.intervalTopKStream]]). */
  private[graft] def collectDayCalendar(points: DataFrame, k: Int,
                                        maxEntries: Int)
      : Option[Array[(Int, Long, Double)]] = {
    require(k > 0 && maxEntries > 0,
      s"collectDayCalendar: k=$k maxEntries=$maxEntries")
    val dayTopDf = points
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("d")).orderBy(col("score").desc, col("pt_key"))))
      .filter(col("_r") <= k)
      .select(unix_date(col("d")).as("ud"), col("pt_key"), col("score"))
    val head = dayTopDf.limit(maxEntries + 1).collect()
    if (head.length > maxEntries) return None
    val dayTop = head.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val (minUd, maxUd) =
      if (dayTop.isEmpty) (0, -1)
      else (dayTop.map(_._1).min, dayTop.map(_._1).max)
    // the dense slot array grows with the SPAN, not days-with-data — one
    // stray far-past/future date would inflate it, so span trips too
    if (maxUd.toLong - minUd >= maxEntries) None else Some(dayTop)
  }

  /** The shuffle-free kernel projection over a collected calendar —
    * stateless per interval row, so it serves batch AND streaming
    * interval frames identically. */
  private[graft] def calendarKernelProject(intervals: DataFrame,
                                           dayTop: Array[(Int, Long, Double)],
                                           k: Int): DataFrame = {
    // dense day-indexed arrays riding as codegen reference objects (a
    // literal MAP would linear-scan per element_at; literal-array HOF
    // compositions are CodegenFallback — both measured 2-8x slower)
    val (minUd, maxUd) =
      if (dayTop.isEmpty) (0, -1)
      else (dayTop.map(_._1).min, dayTop.map(_._1).max)
    val byDay = dayTop.groupBy(_._1)
    val days = (minUd to maxUd).map(ud =>
      byDay.getOrElse(ud, Array.empty[(Int, Long, Double)]))
    val ptKeys: Array[Array[Long]] = days.map(_.map(_._2).toArray).toArray
    val scores: Array[Array[Double]] = days.map(_.map(_._3).toArray).toArray
    intervals
      .withColumn("_top", graft.functions.expressions.NativeExpressions
        .intervalTopK(unix_date(col("d0")), unix_date(col("d1")),
          ptKeys, scores, minUd, k))
      .select(col("id"), posexplode(col("_top")))
      .select(col("id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.pt_key").as("pt_key"), col("col.score").as("score"))
  }

  /** The distributed join form over the broadcast kernel's compact
    * (d DATE, pt_key LONG, score DOUBLE) point schema — the automatic
    * fallback when the day calendar outgrows [[topKPointsPerIntervalBroadcast]]'s
    * bound. Same two-stage top-k as [[topKPointsPerInterval]] (per-day
    * pre-reduction, bucket equi-join, per-interval re-rank), same output
    * columns and types as the kernel path, so the guard can switch plans
    * without the caller noticing anything but the shuffle. */
  def topKPointsPerIntervalJoin(intervals: DataFrame, points: DataFrame,
                                binDays: Int, k: Int): DataFrame = {
    require(binDays > 0 && k > 0, s"topKPointsPerIntervalJoin: binDays=$binDays k=$k")
    def bin(d: org.apache.spark.sql.Column) =
      floor(unix_date(d).cast("long").cast("double") / binDays).cast("long")
    val order = Seq(col("score").desc, col("pt_key"))
    val dayTop = points
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("d")).orderBy(order: _*)))
      .filter(col("_r") <= k).drop("_r")
      .withColumn("_bin", bin(col("d")))
    intervals
      .withColumn("_bin", explode(sequence(bin(col("d0")), bin(col("d1")))))
      .join(dayTop, Seq("_bin"))
      .filter(col("d").between(col("d0"), col("d1")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("id")).orderBy(order: _*)))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank").cast("int").as("rank"), col("pt_key"),
        col("score"))
  }

  /** x59's point filter and bin width, shared with the DuckDB oracle. The
    * synthetic windows span 0..28 days, so a 7-day bin keeps interval
    * replication <= 5 rows. */
  private[graft] val PointQuantityMin: Double = 48.0
  private[graft] val BinDays: Int = 7
  private[graft] val WindowModDays: Int = 29

  /** x59: for every order, how many high-quantity lineitem shipments
    * (corpus-wide, NO key in common — that is the point) fall inside
    * the order's synthetic fulfillment window
    * [o_orderdate, o_orderdate + o_orderkey % 29 days]. */
  def intervalCountQuery(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.load(spark, dir, "orders").select(
      col("o_orderkey").as("id"),
      to_date(col("o_orderdate")).as("d0"),
      date_add(to_date(col("o_orderdate")),
        (col("o_orderkey") % WindowModDays).cast("int")).as("d1"))
    val pts = Tables.load(spark, dir, "lineitem")
      .filter(col("l_quantity") >= PointQuantityMin)
      .select(to_date(col("l_shipdate")).as("d"))
    pointInIntervalCount(iv, pts, BinDays)
      .withColumnRenamed("id", "o_orderkey")
      .orderBy(col("o_orderkey"))
  }

  /** x61's cut, shared with the DuckDB oracle. */
  private[graft] val TopKPerInterval: Int = 3

  /** pt_key encoding for lineitem points: orderkey * 1000 + linenumber
    * — order-preserving for the (pt_orderkey, pt_linenumber) tie-break
    * while linenumber < 1000 (TPC-H linenumbers are 1..7). */
  private[graft] val PtKeyStride = 1000L

  /** x61: for every order window (x59's intervals), the top-3 most
    * expensive high-quantity shipments inside it — the general-payload
    * face of the interval join, on the broadcast-calendar plan
    * ([[topKPointsPerIntervalBroadcast]]; the window form is the
    * spec-checked reference twin). */
  def topKIntervalQuery(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.load(spark, dir, "orders").select(
      col("o_orderkey").as("id"),
      to_date(col("o_orderdate")).as("d0"),
      date_add(to_date(col("o_orderdate")),
        (col("o_orderkey") % WindowModDays).cast("int")).as("d1"))
    val pts = Tables.load(spark, dir, "lineitem")
      .filter(col("l_quantity") >= PointQuantityMin)
      .select(to_date(col("l_shipdate")).as("d"),
        (col("l_orderkey") * PtKeyStride + col("l_linenumber")).as("pt_key"),
        col("l_extendedprice").as("score"))
    topKPointsPerIntervalBroadcast(iv, pts, TopKPerInterval)
      .select(col("id").as("o_orderkey"), col("rank"),
        expr(s"pt_key div $PtKeyStride").as("pt_orderkey"),
        (col("pt_key") % PtKeyStride).as("pt_linenumber"),
        col("score"))
      .orderBy(col("o_orderkey"), col("rank"))
  }
}
