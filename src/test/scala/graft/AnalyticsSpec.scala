package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Analytics

/** Semantic coverage for the warehouse-analytics operators (x27-x29):
  * SCD2 history invariants, exact-percentile agreement with a manual
  * sort-based computation, and pivot row/column totals vs plain groupBy. */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def log(rows: (Long, Long, String, Long)*) =
    rows.toSeq.map { case (eid, uid, attr, sec) =>
      (eid, uid, attr, new Timestamp(sec * 1000))
    }.toDF("event_id", "user_id", "attr", "ts")

  test("scd2: consecutive duplicates collapse, changes version, nulls are values") {
    val d = log(
      (1L, 1L, "a", 0L), (2L, 1L, "a", 10L), // duplicate run collapses
      (3L, 1L, "b", 20L),                    // change → v2
      (4L, 1L, null, 30L),                   // null is a value → v3
      (5L, 1L, null, 40L),                   // null run collapses
      (6L, 1L, "a", 50L))                    // back to a → v4 (runs, not values)
    val out = Analytics.scd2Build(d, Seq("user_id"), "attr", "ts", "event_id")
      .orderBy($"version")
      .select($"attr", $"version", $"is_current")
      .as[(Option[String], Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (Some("a"), 1L, false), (Some("b"), 2L, false),
      (None, 3L, false), (Some("a"), 4L, true)))
  }

  test("scd2: validity intervals tile [first_ts, open) — no gaps, no overlaps") {
    val hist = Analytics.scd2Build(
      Tables.load(spark, sf("sf0.001"), "events"),
      Seq("user_id"), "event_type", "ts", "event_id")
    val rows = hist
      .select($"user_id", $"version", $"effective_from", $"effective_to", $"is_current")
      .as[(Long, Long, Timestamp, Option[Timestamp], Boolean)]
      .collect().toSeq.groupBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (uid, hs) =>
      val sorted = hs.sortBy(_._2)
      assert(sorted.map(_._2) == (1L to sorted.size).toSeq, s"user $uid versions not contiguous")
      sorted.sliding(2).foreach {
        case Seq((_, _, _, to, _), (_, _, from2, _, _)) =>
          assert(to.contains(from2), s"user $uid: effective_to != next effective_from")
        case _ =>
      }
      assert(sorted.count(_._5) == 1 && sorted.last._5, s"user $uid: is_current not the single open row")
      assert(sorted.init.forall(_._4.isDefined) && sorted.last._4.isEmpty,
        s"user $uid: only the last row may be open")
    }
  }

  test("scd2: deterministic under repartitioning") {
    val events = Tables.load(spark, sf("sf0.001"), "events")
    val a = Analytics.scd2Build(events, Seq("user_id"), "event_type", "ts", "event_id")
      .orderBy($"user_id", $"version").collect().toSeq
    val b = Analytics.scd2Build(events.repartition(13), Seq("user_id"), "event_type", "ts", "event_id")
      .orderBy($"user_id", $"version").collect().toSeq
    assert(a == b)
  }

  test("scd2 plan: lag + filter + lead/row_number share one exchange and one sort") {
    val events = Tables.load(spark, sf("sf0.001"), "events")
    val df = Analytics.scd2Build(events, Seq("user_id"), "event_type", "ts", "event_id")
    df.collect()
    // AQE's toString prints the final AND initial plans — count the final only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"second window re-shuffled:\n$plan")
    assert("Sort ".r.findAllIn(plan).size == 1, s"second window re-sorted:\n$plan")
  }

  test("percentile rollup matches a manual sorted-interpolation computation") {
    val events = Tables.load(spark, sf("sf0.001"), "events")
    val got = Analytics.percentileRollup(events, Seq("event_type"), "value",
        Seq("p50" -> 0.5, "p90" -> 0.9))
      .orderBy($"event_type")
      .select($"event_type", $"p50".cast("double"), $"p90".cast("double"))
      .as[(String, Double, Double)].collect().toSeq
    val raw = events.select($"event_type", $"value").as[(String, Double)]
      .collect().toSeq.groupBy(_._1)
    def interp(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      if (lo == s.size - 1) s(lo)
      else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
    }
    got.foreach { case (et, p50, p90) =>
      val vs = raw(et).map(_._2)
      assert(math.abs(p50 - interp(vs, 0.5)) < 1e-4, s"$et p50")
      assert(math.abs(p90 - interp(vs, 0.9)) < 1e-4, s"$et p90")
    }
  }

  test("pivot cells sum to the plain groupBy totals (row and column marginals)") {
    val dir = sf("sf0.001")
    val piv = Analytics.pivotQuery(spark, dir)
    val yearCols = Analytics.pivotYears.map("y" + _)
    val rowTotals = piv.select($"n_name",
        yearCols.map(c => coalesce(col(c), lit(0.0))).reduce(_ + _).as("t"))
      .as[(String, Double)].collect().toMap
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    val flat = orders
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(nation, $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(graft.core.Determinism.dsum($"o_totalprice").as("t"))
      .as[(String, Double)].collect().toMap
    assert(rowTotals.keySet == flat.keySet)
    rowTotals.foreach { case (n, t) =>
      assert(math.abs(t - flat(n)) < 1e-6, s"nation $n pivot row total drifts")
    }
    // a nation-year with no orders stays null, not 0
    val nullCells = piv.select(yearCols.map(c => sum(when(col(c).isNull, 1).otherwise(0))).reduce(_ + _))
      .as[Long].head()
    assert(nullCells >= 0) // shape check only; sf0.001 may or may not have empty cells
  }

  test("unpivot round-trips the pivot: long rows == direct long aggregation") {
    val dir = sf("sf0.001")
    val viaRoundTrip = Analytics.unpivotQuery(spark, dir)
      .as[(String, String, Double)].collect().toSeq
    val direct = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(Tables.load(spark, dir, "nation"), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", concat(lit("y"), year($"o_orderdate")).as("yr"))
      .agg(graft.core.Determinism.dsum($"o_totalprice").as("revenue"))
      .orderBy($"n_name", $"yr")
      .as[(String, String, Double)].collect().toSeq
    assert(viaRoundTrip == direct)
  }

  test("moving average: trailing window includes exactly the in-range rows") {
    val d = Seq(
      (1L, 1L, new Timestamp(0L), 10.0),
      (2L, 1L, new Timestamp(5000L), 20.0),   // 5s later
      (3L, 1L, new Timestamp(11000L), 40.0),  // 11s: 10s window drops ts=0
      (4L, 2L, new Timestamp(11000L), 100.0)) // other user isolated
      .toDF("event_id", "user_id", "ts", "value")
    val out = d.select($"event_id",
        Analytics.movingAvg("user_id", "ts", "value", 10L * 1000000).as("m"))
      .orderBy($"event_id").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 10.0), (2L, 15.0), (3L, 30.0), (4L, 100.0)))
  }

  test("zscore outliers: flags exactly the |x-mean| > k*std rows, deterministic") {
    val events = Tables.load(spark, sf("sf0.001"), "events")
    val out = Analytics.zscoreOutliers(events, "event_type", "value", 2.0)
    val flagged = out.select($"event_id").as[Long].collect().toSet
    // manual check on one group
    val vals = events.filter($"event_type" === "error")
      .select($"event_id", $"value").as[(Long, Double)].collect()
    val xs = vals.map(_._2)
    val mean = xs.sum / xs.length
    val std = math.sqrt(xs.map(x => x * x).sum / xs.length - mean * mean)
    val expect = vals.filter { case (_, v) => math.abs(v - mean) > 2 * std }.map(_._1).toSet
    val got = flagged.intersect(vals.map(_._1).toSet)
    // decimal-moment arithmetic vs naive double sums can disagree only
    // within float noise of the threshold — require the sets to agree
    // exactly here (no event in this corpus sits at the boundary)
    assert(got == expect, s"extra=${got -- expect} missing=${expect -- got}")
    // partitioning-stability
    val b = Analytics.zscoreOutliers(events.repartition(17), "event_type", "value", 2.0)
      .select($"event_id").as[Long].collect().toSet
    assert(b == flagged)
  }

  test("funnel: strict order, conversion window, first-event anchoring") {
    def e(rows: (Long, Long, String, Long)*) =
      rows.toSeq.map { case (eid, uid, t, sec) =>
        (eid, uid, t, new Timestamp(sec * 1000))
      }.toDF("event_id", "user_id", "event_type", "ts")
    val d = e(
      // user 1: full conversion within windows
      (1L, 1L, "view", 0L), (2L, 1L, "click", 10L), (3L, 1L, "purchase", 20L),
      // user 2: click BEFORE view → not converted past stage 1
      (4L, 2L, "click", 0L), (5L, 2L, "view", 10L),
      // user 3: click too late (past the 60s window)
      (6L, 3L, "view", 0L), (7L, 3L, "click", 100L),
      // user 4: converts on a LATER click, but the window anchors at the
      // FIRST qualifying click (t=10), so the purchase at t=200 misses
      (8L, 4L, "view", 0L), (9L, 4L, "click", 10L), (10L, 4L, "click", 150L),
      (11L, 4L, "purchase", 200L))
    val out = Analytics.funnel(d, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), 60L * 1000000)
      .as[(String, Long)].collect().toSeq
    // views: users 1,2,3,4; clicks-after-view-in-window: 1,4; purchases: 1
    assert(out == Seq(("01_view", 4L), ("02_click", 2L), ("03_purchase", 1L)))
  }

  test("flagOutliers: unseen groups drop by default, flag with null z when asked") {
    val rows = Seq((1L, "a", 10.0), (2L, "b", 99.0))
      .toDF("event_id", "event_type", "value")
    // baseline knows only group a (mean 10, std>0 via two values)
    val baseline = Seq((10L, "a", 9.0), (11L, "a", 11.0))
      .toDF("event_id", "event_type", "value")
    val moments = Analytics.momentsOf(baseline, "event_type", "value")
    val dropped = Analytics.flagOutliers(rows, moments, "event_type", "value", 2.0)
      .select($"event_id").as[Long].collect().toSeq
    assert(dropped == Seq.empty, "group-a row within 2 std; group-b row must drop")
    val flagged = Analytics
      .flagOutliers(rows, moments, "event_type", "value", 2.0, flagUnseen = true)
      .select($"event_id", $"z".isNull).as[(Long, Boolean)].collect().toSeq
    assert(flagged == Seq((2L, true)), "unseen group must surface with null z")
  }

  test("retention: cohort anchoring and weekly distinct counting") {
    val day = 86400L
    // epoch day 0 = THURSDAY 1970-01-01; Monday truncation: day 3 (Sun
    // Jan 4) belongs to the week of Mon Dec 29, day 5 (Tue Jan 6) to the
    // week of Mon Jan 5, day 17 (Sun Jan 18) to the week of Mon Jan 12.
    val d = Seq(
      // user 1: cohort = week of Dec 29; active weeks 0, 1, 2
      (1L, 1L, 3 * day), (2L, 1L, 5 * day), (3L, 1L, 17 * day),
      // user 2: cohort = week of Jan 5 (days 8,9 = Fri,Sat same week)
      (4L, 2L, 8 * day), (5L, 2L, 9 * day))
      .map { case (eid, uid, sec) => (eid, uid, new Timestamp(sec * 1000)) }
      .toDF("event_id", "user_id", "ts")
    val out = Analytics.weeklyRetention(d, "user_id", "ts")
      .orderBy($"cohort_week", $"week_k")
      .select($"week_k", $"n_users").as[(Int, Long)].collect().toSeq
    assert(out == Seq((0, 1L), (1, 1L), (2, 1L), (0, 1L)))
  }

  test("pivot plan: explicit values — no distinct-values job at plan-build time") {
    // an implicit pivot (no value list) must run a blocking distinct job
    // to discover the columns BEFORE the plan exists; the explicit form
    // builds the plan with zero jobs. Pay the table-load jobs first, then
    // measure only the pivot construction.
    val dir = sf("sf0.001")
    val joined = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(Tables.load(spark, dir, "nation"), $"c_nationkey" === $"n_nationkey")
      .withColumn("yr", concat(lit("y"), year($"o_orderdate")))
    def jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val before = jobs
    joined.groupBy($"n_name").pivot("yr", Analytics.pivotYears.map("y" + _))
      .agg(graft.core.Determinism.dsum($"o_totalprice"))
    assert(jobs == before, "explicit-values pivot launched a job at construction")
    // negative control: the implicit form DOES scan (proves the probe works)
    joined.groupBy($"n_name").pivot("yr")
      .agg(graft.core.Determinism.dsum($"o_totalprice"))
    assert(jobs > before, "probe insensitive: implicit pivot ran no job?")
  }

  test("winsorize: clip counts, bounds, and winsorized sum on a hand-checked group") {
    // values 1..20: p05 = 1 + 0.05*19 = 1.95, p95 = 1 + 0.95*19 = 19.05
    // clipped: {1} below, {20} above; sum_w = sum(2..19) + 1.95 + 19.05 = 210
    val d = ((1 to 20).map(v => ("a", Some(v.toDouble)))
        :+ ("a", None)             // null value: dropped BEFORE the clip
        :+ ("b", Option.empty[Double])) // all-null group: absent from report
      .toDF("grp", "value")
    val out = Analytics.winsorize(d, Seq("grp"), "value", 0.05, 0.95)
      .select($"grp", $"n", $"n_lo", $"n_hi",
        $"p_lo".cast("double"), $"p_hi".cast("double"), $"sum_w")
      .as[(String, Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq(("a", 20L, 1L, 1L, 1.95, 19.05, 210.0)))
  }

  test("madOutliers flags by median/MAD and survives contamination that breaks the z-score") {
    // group: 20 inliers at 10.0 ± 0.5 plus four gross outliers (1/6
    // contamination). The MAD detector flags exactly the outliers; a
    // z-score with k=3 on the same data flags NOTHING because the
    // outliers inflate the std past their own deviations (3σ ≈ 612 vs
    // |dev| ≈ 491) — the breakdown this operator exists to resist.
    val inliers = (1 to 20).map(i => (i.toLong, "g", 10.0 + (i % 2) * 0.5))
    val d = (inliers ++ Seq((100L, "g", 500.0), (101L, "g", -500.0),
        (102L, "g", 500.0), (103L, "g", -500.0)))
      .toDF("event_id", "grp", "value")
    val flagged = Analytics.madOutliers(d, Seq("grp"), "value")
      .select($"event_id").as[Long].collect().toSet
    assert(flagged == Set(100L, 101L, 102L, 103L))
    val n = d.count().toDouble
    val (mean, std) = {
      val vs = d.select($"value").as[Double].collect()
      val m = vs.sum / n
      (m, math.sqrt(vs.map(v => (v - m) * (v - m)).sum / n))
    }
    assert(!d.select($"value").as[Double].collect()
      .exists(v => math.abs(v - mean) > 3 * std),
      "contamination was supposed to blind the 3-sigma z-score")
  }

  test("madOutliers: null values never flag and an all-null group vanishes") {
    val d = Seq((1L, "a", Some(1.0)), (2L, "a", Some(1.5)), (3L, "a", None),
        (4L, "b", Option.empty[Double]))
      .toDF("event_id", "grp", "value")
    assert(Analytics.madOutliers(d, Seq("grp"), "value").count() == 0)
  }

  test("winsorize with lo=0/hi=1 clips nothing: sum_w equals the exact decimal sum") {
    val events = Tables.load(spark, sf("sf0.001"), "events")
    val out = Analytics.winsorize(events, Seq("event_type"), "value", 0.0, 1.0)
    assert(out.filter($"n_lo" =!= 0L || $"n_hi" =!= 0L).isEmpty)
    val expected = events.filter($"value".isNotNull)
      .groupBy($"event_type")
      .agg(graft.core.Determinism.dsum($"value").as("s"))
      .select($"event_type", $"s").as[(String, Double)].collect().toMap
    val got = out.select($"event_type", $"sum_w").as[(String, Double)].collect().toMap
    assert(got == expected)
  }

  test("scd2Merge: incremental fold equals the from-scratch rebuild on real events") {
    val ev = Tables.load(spark, sf("sf0.001"), "events")
      .select($"user_id", $"event_type", $"ts", $"event_id")
    val cutUs = ev.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0).toLong
    val old = ev.filter(unix_micros($"ts") <= cutUs)
    val neu = ev.filter(unix_micros($"ts") > cutUs)
    assert(old.count() > 0 && neu.count() > 0, "vacuous time split")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"user_id", $"event_type", $"effective_from", $"effective_to",
        $"version", $"is_current")
      .as[(Long, String, Timestamp, Option[Timestamp], Long, Boolean)]
      .collect().toSet
    val base = Analytics.scd2Build(old, Seq("user_id"), "event_type", "ts", "event_id")
    val merged = Analytics.scd2Merge(base, neu, Seq("user_id"), "event_type", "ts", "event_id")
    val rebuilt = Analytics.scd2Build(ev, Seq("user_id"), "event_type", "ts", "event_id")
    assert(rows(merged) == rows(rebuilt),
      s"merge drifted: only-merged=${(rows(merged) -- rows(rebuilt)).take(3)} " +
        s"only-rebuilt=${(rows(rebuilt) -- rows(merged)).take(3)}")
    // an empty batch is the identity
    assert(rows(Analytics.scd2Merge(base, neu.limit(0),
      Seq("user_id"), "event_type", "ts", "event_id")) == rows(base))
  }

  test("scd2Merge edge cases: continuing run, null attrs, brand-new key") {
    def t(s: String) = Timestamp.valueOf(s)
    val old = Seq(
      (1L, Some("a"), t("2024-01-01 10:00:00"), 1L),
      (1L, Some("a"), t("2024-01-01 11:00:00"), 2L),  // same-run repeat
      (2L, Option.empty[String], t("2024-01-01 10:30:00"), 3L)) // null VALUE run
      .toDF("k", "attr", "ts", "tb")
    val neu = Seq(
      (1L, Some("a"), t("2024-01-01 12:00:00"), 4L),  // continues run (no change)
      (1L, Some("b"), t("2024-01-01 13:00:00"), 5L),  // change -> version 2
      (2L, Option.empty[String], t("2024-01-01 12:30:00"), 6L), // null == null: continues
      (3L, Some("z"), t("2024-01-01 09:00:00"), 7L))  // brand-new key -> version 1
      .toDF("k", "attr", "ts", "tb")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"k", $"attr", $"effective_from", $"effective_to", $"version", $"is_current")
      .as[(Long, Option[String], Timestamp, Option[Timestamp], Long, Boolean)]
      .collect().toSet
    val merged = Analytics.scd2Merge(
      Analytics.scd2Build(old, Seq("k"), "attr", "ts", "tb"),
      neu, Seq("k"), "attr", "ts", "tb")
    val rebuilt = Analytics.scd2Build(old.unionByName(neu), Seq("k"), "attr", "ts", "tb")
    assert(rows(merged) == rows(rebuilt))
    // and the hand expectation pins the semantics, not just the identity
    assert(rows(merged) == Set[(Long, Option[String], Timestamp, Option[Timestamp], Long, Boolean)](
      (1L, Some("a"), t("2024-01-01 10:00:00"), Some(t("2024-01-01 13:00:00")), 1L, false),
      (1L, Some("b"), t("2024-01-01 13:00:00"), None, 2L, true),
      (2L, None, t("2024-01-01 10:30:00"), None, 1L, true),
      (3L, Some("z"), t("2024-01-01 09:00:00"), None, 1L, true)))
  }

  test("scd2Merge null-key contract: null-key batch rows drop, history stays single-current") {
    def t(s: String) = Timestamp.valueOf(s)
    // old log carries a null-key entity (scd2Build groups it as one)
    val old = Seq(
      (Some(1L), Some("a"), t("2024-01-01 10:00:00"), 1L),
      (Option.empty[Long], Some("n"), t("2024-01-01 10:00:00"), 2L))
      .toDF("k", "attr", "ts", "tb")
    val neu = Seq(
      (Some(1L), Some("b"), t("2024-01-01 12:00:00"), 3L),   // real change
      (Option.empty[Long], Some("m"), t("2024-01-01 12:00:00"), 4L)) // null key: dropped
      .toDF("k", "attr", "ts", "tb")
    val base = Analytics.scd2Build(old, Seq("k"), "attr", "ts", "tb")
    val merged = Analytics.scd2Merge(base, neu, Seq("k"), "attr", "ts", "tb")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"k", $"attr", $"effective_from", $"effective_to", $"version", $"is_current")
      .as[(Option[Long], Option[String], Timestamp, Option[Timestamp], Long, Boolean)]
      .collect().toSet
    // the null-key entity keeps EXACTLY its old open run (never a second
    // is_current row — the pre-contract failure mode), and the non-null
    // key folds normally
    assert(rows(merged) == Set[(Option[Long], Option[String], Timestamp, Option[Timestamp], Long, Boolean)](
      (Some(1L), Some("a"), t("2024-01-01 10:00:00"), Some(t("2024-01-01 12:00:00")), 1L, false),
      (Some(1L), Some("b"), t("2024-01-01 12:00:00"), None, 2L, true),
      (None, Some("n"), t("2024-01-01 10:00:00"), None, 1L, true)))
    val perEntityCurrent = merged.filter($"is_current")
      .groupBy($"k").count().as[(Option[Long], Long)].collect()
    assert(perEntityCurrent.forall(_._2 == 1L),
      s"an entity has multiple is_current rows: ${perEntityCurrent.toSeq}")
  }

  test("x74: cube emits all four grouping sets, consistent with the pair cells") {
    val cube = Analytics.cubeVolumesQuery(spark, sf("sf0.001"))
      .as[(String, String, Long, Long)].collect().toSeq
    val pairs = cube.filter(r => r._1 != "ALL" && r._2 != "ALL")
    val total = cube.filter(r => r._1 == "ALL" && r._2 == "ALL")
    assert(total.size == 1)
    assert(total.head._3 == pairs.map(_._3).sum && total.head._4 == pairs.map(_._4).sum)
    // each lang subtotal = sum of its pair cells (and same for sources)
    cube.filter(r => r._1 != "ALL" && r._2 == "ALL").foreach { case (l, _, nd, nt) =>
      val cells = pairs.filter(_._1 == l)
      assert(nd == cells.map(_._3).sum && nt == cells.map(_._4).sum, s"lang $l")
    }
    cube.filter(r => r._1 == "ALL" && r._2 != "ALL").foreach { case (_, s, nd, nt) =>
      val cells = pairs.filter(_._2 == s)
      assert(nd == cells.map(_._3).sum && nt == cells.map(_._4).sum, s"source $s")
    }
  }

  test("x75: transition matrix matches a hand computation, marginals consistent") {
    def t(s: String) = Timestamp.valueOf(s)
    // user 1: a -> b -> a; user 2: a -> a. transitions: (a,b)=1 (b,a)=1 (a,a)=1
    val events = Seq(
      (1L, 1L, "a", t("2024-01-01 10:00:00")),
      (2L, 1L, "b", t("2024-01-01 11:00:00")),
      (3L, 1L, "a", t("2024-01-01 12:00:00")),
      (4L, 2L, "a", t("2024-01-01 10:00:00")),
      (5L, 2L, "a", t("2024-01-01 11:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val dir = tempDir("x75-sf").toString
    events.write.parquet(s"$dir/events.parquet")
    val out = Analytics.transitionQuery(spark, dir)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(out == Seq(("a", "a", 1L, 2L), ("a", "b", 1L, 2L), ("b", "a", 1L, 1L)))
    // on the real table: per-from marginal equals the sum of its row
    val real = Analytics.transitionQuery(spark, sf("sf0.001"))
      .as[(String, String, Long, Long)].collect().toSeq
    assert(real.nonEmpty)
    real.groupBy(_._1).foreach { case (f, rs) =>
      assert(rs.forall(_._4 == rs.map(_._3).sum), s"marginal drift for $f")
    }
  }

  test("x71: point-in-time lookup returns the run valid AT each fact timestamp") {
    def t(s: String) = Timestamp.valueOf(s)
    // dimension log (non-click): user 1 is 'view' from 10:00, 'purchase'
    // from 12:00; user 2 has no dimension events at all
    val events = Seq(
      (1L, 1L, "view", t("2024-01-01 10:00:00")),
      (2L, 1L, "click", t("2024-01-01 09:00:00")),  // before any dim event
      (3L, 1L, "click", t("2024-01-01 11:00:00")),  // inside the view run
      (4L, 1L, "purchase", t("2024-01-01 12:00:00")),
      (5L, 1L, "click", t("2024-01-01 12:00:00")),  // AT the boundary → new run
      (6L, 1L, "click", t("2024-01-01 13:00:00")),  // after the boundary
      (7L, 2L, "click", t("2024-01-01 10:30:00")))  // user with no history
      .toDF("event_id", "user_id", "event_type", "ts")
    val clicks = events.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val hist = Analytics
      .scd2Build(events.filter($"event_type" =!= "click"),
        Seq("user_id"), "event_type", "ts", "event_id")
      .select($"user_id", $"event_type".as("attr"), $"effective_from".as("fts"))
    val out = graft.operators.AsOfJoin
      .asOfNative(clicks, hist, "user_id", "ts", "fts")
      .orderBy($"event_id")
      .as[(Long, Long, Timestamp, Option[String])].collect().toSeq
    assert(out == Seq(
      (2L, 1L, t("2024-01-01 09:00:00"), None),
      (3L, 1L, t("2024-01-01 11:00:00"), Some("view")),
      (5L, 1L, t("2024-01-01 12:00:00"), Some("purchase")),
      (6L, 1L, t("2024-01-01 13:00:00"), Some("purchase")),
      (7L, 2L, t("2024-01-01 10:30:00"), None)))
  }

  test("x71: the query plans through the native as-of exec") {
    val p = Analytics.pitEnrichQuery(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoinExec") || p.contains("AsOfJoin"),
      s"expected the native as-of operator:\n$p")
  }

  test("x80: trend recovers a planted line exactly; noise lowers r2 only") {
    def ts(day: Int) = new Timestamp(86400L * 1000 * (19000 + day))
    // group "lin": y = 2x + 1 exactly on days 0..9
    val lin = (0 to 9).map(x => ("lin", ts(x), 2.0 * x + 1.0))
    // group "noise": the line plus a perturbation orthogonal to x
    // (sum e = 0 and sum x*e = 0 -> slope and intercept are unchanged)
    val e = Map(0 -> 0.5, 9 -> 0.5, 1 -> -0.5, 8 -> -0.5).withDefaultValue(0.0)
    val noise = (0 to 9).map(x => ("noise", ts(x), 2.0 * x + 1.0 + e(x)))
    // group "flat": single day -> degenerate denominator -> nulls
    val flat = Seq(("flat", ts(3), 1.0), ("flat", ts(3), 2.0))
    val df = (lin ++ noise ++ flat).toDF("event_type", "ts", "value")
    val out = Analytics.trend(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("lin").getDouble(2) == 2.0 && out("lin").getDouble(3) == 1.0)
    assert(out("lin").getDouble(4) == 1.0)
    assert(out("noise").getDouble(2) == 2.0, "symmetric noise keeps the slope")
    assert(out("noise").getDouble(4) < 1.0 && out("noise").getDouble(4) > 0.9)
    assert(out("flat").isNullAt(2) && out("flat").isNullAt(3) && out("flat").isNullAt(4))
  }

  /** Skewed fixture for the window-vs-distributed rank identity specs:
    * one monster source (the shape that funnels a rank window into one
    * task at scale) next to several small ones, with heavy value ties
    * so the doc_id tie-break is exercised, spread over enough input
    * partitions that the grouped prefix scan crosses range-partition
    * boundaries inside the monster group. */
  private def skewedDocs = {
    val rows = (0L until 3000L).map { i =>
      val src = if (i < 2400) "monster" else s"small${i % 7}"
      // short repetitive texts -> massive len/punct ties
      (i, src, ("tok " * ((i % 5).toInt + 1)).trim + (if (i % 3 == 0) "." else ""))
    }
    rows.toDF("doc_id", "source", "text").repartition(13)
  }

  test("x134: spearmanDistributed is row-identical to the window form on a skewed fixture") {
    val d = skewedDocs
    val w = Analytics.spearman(d).orderBy($"source").collect().toSeq
    val p = Analytics.spearmanDistributed(d, numPartitions = 11)
      .orderBy($"source").collect().toSeq
    assert(w == p, s"window:\n${w.mkString("\n")}\ndistributed:\n${p.mkString("\n")}")
  }

  test("x53: qualityDecilesDistributed equals the ntile window form on a skewed fixture") {
    import graft.operators.TextAnalysis
    val d = skewedDocs.withColumnRenamed("source", "lang")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"n_tokens", $"doc_id")
    val windowForm = d.select($"doc_id", $"lang",
        size(filter(split($"text", " "), x => x =!= "")).cast("long").as("n_tokens"))
      .withColumn("decile", ntile(10).over(w))
      .orderBy($"doc_id").collect().toSeq
    val dist = TextAnalysis.qualityDecilesDistributed(d, numPartitions = 11)
      .orderBy($"doc_id").collect().toSeq
    assert(windowForm == dist,
      s"first diff: ${windowForm.zip(dist).find { case (a, b) => a != b }}")
  }
}
