package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Mergeable sketch aggregates — the pattern that makes 100 TB
  * cardinality/frequency questions cheap: sketch once per
  * partition/day/group (one scan of the raw data, ever), then answer
  * rollups by MERGING kilobyte-sized sketches instead of re-scanning.
  * Spark's Datasketches-backed HLL functions do exactly this:
  * `hll_sketch_agg` builds, `hll_union_agg` merges, estimates are
  * deterministic for a fixed lgK (no RNG), so sketch tables are stable,
  * reusable artifacts.
  *
  * The estimates are engine-specific (DuckDB's approx sketch differs),
  * so the query is rows-only at the driver's gate; accuracy and
  * mergeability (partition-invariance, union == direct-sketch) are
  * asserted in ScalaTest.
  */
object Sketches {

  /** log2 of HLL register count; 12 → 4 Ki registers ≈ 1.6% rsd. */
  val LgK = 12

  /** Two-level distinct rollup on lineitem: per-returnflag sketches of
    * l_partkey plus a TOTAL row, all in ONE scan via `rollup` grouping
    * sets (Expand feeds each row to both grouping sets; the union-form
    * alternative — branch per level off one aggregate — re-scans the
    * raw table per level, because Catalyst does not dedupe a
    * twice-referenced aggregate subtree). Sketch-UNION mergeability
    * (`hll_union_agg`, the rollup-a-persisted-sketch-table face) is
    * spec-asserted separately, and the estimates' error vs exact counts
    * is asserted in ExtrasSpec against independently-computed truth —
    * the query itself carries NO exact distinct: pairing the sketch
    * with a count_distinct would shuffle a deduplicated key stream per
    * grouping set (measured 1.9x the whole query at sf0.1), which is
    * precisely the cost the sketch exists to avoid. */
  def hllRollup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.rollup(col("l_returnflag"))
      .agg(hll_sketch_agg(col("l_partkey"), LgK).as("sk"),
        grouping(col("l_returnflag")).as("g"))
      .select(
        when(col("g") === 1, lit("TOTAL")).otherwise(col("l_returnflag")).as("grp"),
        hll_sketch_estimate(col("sk")).as("approx_distinct"))
      .orderBy(col("grp"))
  }

  def hllRollupQuery(spark: SparkSession, dir: String): DataFrame =
    hllRollup(spark, dir)

  /** Two-level QUANTILE rollup on lineitem via KLL sketches — the
    * percentile counterpart of [[hllRollup]]: per-returnflag sketches of
    * l_extendedprice plus a TOTAL row, all in ONE scan via `rollup`
    * grouping sets (see hllRollup for why the union-the-branches form
    * scans twice). Sketch-UNION mergeability (`kll_union_agg`, the
    * rollup-a-persisted-sketch-table face) is spec-asserted separately.
    * The exact absorbed count (getN, deterministic) rides along; the
    * p50/p95 estimates are rows-only at the driver's gate (KLL
    * compaction is randomized) with accuracy asserted in ExtrasSpec. */
  def kllRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.KllFunctions._
    val li = Tables.load(spark, dir, "lineitem")
    li.rollup(col("l_returnflag"))
      .agg(kllSketchAgg(col("l_extendedprice").cast("double")).as("sk"),
        grouping(col("l_returnflag")).as("g"))
      .select(
        when(col("g") === 1, lit("TOTAL")).otherwise(col("l_returnflag")).as("grp"),
        kllCount(col("sk")).as("n"),
        kllQuantile(col("sk"), lit(0.5)).as("p50"),
        kllQuantile(col("sk"), lit(0.95)).as("p95"))
      .orderBy(col("grp"))
  }

  def kllRollupQuery(spark: SparkSession, dir: String): DataFrame =
    kllRollup(spark, dir)

  /** x54's heaviness denominator (upper_bound >= stream_weight/share). */
  val FreqShare = 400

  /** Frequent-bigram rollup via mergeable frequent-items sketches — the
    * FREQUENCY member of the sketch family ([[hllRollup]] = distinct,
    * [[kllRollup]] = quantiles): per-language sketches plus a TOTAL
    * row, ONE scan via grouping sets, then each group's heavy bigrams
    * with guaranteed error bounds (NO_FALSE_NEGATIVES: every truly
    * heavy item is present; lower <= true <= upper per item). The
    * mergeable face of x47's exact Misra-Gries recount, for when a
    * second pass over the raw stream is too expensive — e.g. rolling
    * per-day sketch tables up to any ad-hoc grain. Estimates are
    * merge-order-dependent (purge timing), so rows-only at the gate;
    * the bound guarantees are spec-asserted against exact truth. */
  def freqRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.FreqFunctions._
    val docs = Tables.load(spark, dir, "documents")
    val bigrams = docs.select(col("lang"),
      explode(graft.operators.Dedup.wordShinglesAll(col("text"), 2)).as("item"))
    bigrams.rollup(col("lang"))
      .agg(freqSketchAgg(col("item")).as("sk"),
        grouping(col("lang")).as("g"))
      .select(
        when(col("g") === 1, lit("TOTAL")).otherwise(col("lang")).as("grp"),
        freqStreamWeight(col("sk")).as("n"), col("sk"))
      .select(col("grp"), col("n"),
        explode(freqTopItems(col("sk"),
          (col("n") / lit(FreqShare)).cast("long"))).as("t"))
      .select(col("grp"), col("n"), col("t.item").as("item"),
        col("t.estimate").as("estimate"),
        col("t.lower_bound").as("lower_bound"),
        col("t.upper_bound").as("upper_bound"))
      .orderBy(col("grp"), col("estimate").desc, col("item"))
  }

  def freqRollupQuery(spark: SparkSession, dir: String): DataFrame =
    freqRollup(spark, dir)

  // ------------------------- exact faces of the sketch rollups (x84-x86)

  /** x84: the EXACT twin of [[hllRollup]] — same grouping sets, same
    * TOTAL row, same output shape, but a real COUNT(DISTINCT) instead
    * of the HLL estimate. The sketch estimates are engine-specific
    * (rows-only at the gate); this oracle-checks the grouping/rollup
    * PLUMBING around them, leaving only the sketch internals
    * spec-gated. It is also the honest cost statement the sketch is
    * measured against: this shuffles a deduplicated key stream per
    * grouping set (the 1.9x the hllRollup scaladoc prices); at 100 TB
    * you run THIS once to calibrate and the sketch ever after. */
  def distinctExactQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .rollup(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_distinct"),
        grouping(col("l_returnflag")).as("g"))
      .select(
        when(col("g") === 1, lit("TOTAL")).otherwise(col("l_returnflag")).as("grp"),
        col("n_distinct"))
      .orderBy(col("grp"))

  /** x85: the EXACT quantile twin of [[kllRollup]] — per-returnflag and
    * TOTAL p50/p95 of l_extendedprice as discrete order statistics
    * (value at 1-indexed position ceil(p·n), computed with INTEGER
    * index arithmetic — (n+1) div 2 and (19n+19) div 20 — so no float
    * enters until the stored value itself is emitted untouched).
    *
    * Shape: one (group, value) histogram aggregation, the TOTAL level
    * derived from the histogram (never a second raw scan), then the
    * cumulative counts via [[graft.operators.Sampling.prefixSum]] — the
    * range-partitioned grouped prefix scan — NOT a per-group window: a
    * grouping this low-cardinality (4 groups over a near-distinct value
    * histogram) funnels each group's whole histogram through ONE window
    * task, which measured 4.3s at sf0.1 against ~1s for the distributed
    * scan. The histogram is read once, by the scan: the group totals are
    * the per-group sums the scan's first job already brings to the
    * driver. The KLL sketch remains the scale path; this gates the
    * grouping plumbing and prices the exact alternative. */
  def quantilesExactQuery(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag").as("grp"), col("l_extendedprice").as("v"))
      .agg(count(lit(1)).as("c"))
    val total = hist.groupBy(col("v")).agg(sum(col("c")).as("c"))
      .select(lit("TOTAL").as("grp"), col("v"), col("c"))
    val all = hist.select(col("grp"), col("v"), col("c")).unionByName(total)
    val (cum, sizes) = graft.operators.Sampling.prefixScan(
      all, Seq("grp"), Seq(col("v")), "c", "cum", 0)
    import spark.implicits._
    val ns = sizes.toSeq.map { case (g, n) => (g.head.asInstanceOf[String], n) }
      .toDF("grp", "n")
    cum.join(broadcast(ns), Seq("grp"))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("p50"),
        min(when(col("cum") >= expr("(19 * n + 19) div 20"), col("v"))).as("p95"))
      .orderBy(col("grp"))
  }

  /** x86: the EXACT heavy-hitters twin of [[freqRollup]] — same bigram
    * stream, same grouping sets (per-lang + TOTAL), same heaviness
    * threshold family (count·[[FreqShare]] ≥ group weight, integer
    * arithmetic), but true counts instead of sketch estimates. The
    * TOTAL level and each group's weight come from the (lang, item)
    * aggregate via windows — the raw bigram stream is scanned once. */
  def freqExactQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.load(spark, dir, "documents")
      .select(col("lang"),
        explode(graft.operators.Dedup.wordShinglesAll(col("text"), 2)).as("item"))
      .groupBy(col("lang"), col("item"))
      .agg(count(lit(1)).as("c"))
    val total = counts.groupBy(col("item")).agg(sum(col("c")).as("c"))
      .select(lit("TOTAL").as("grp"), col("item"), col("c"))
    val all = counts.select(col("lang").as("grp"), col("item"), col("c"))
      .unionByName(total)
    all.withColumn("n", sum(col("c")).over(Window.partitionBy(col("grp"))))
      .filter(col("c") * FreqShare >= col("n"))
      .select(col("grp"), col("n"), col("item"), col("c").as("freq"))
      .orderBy(col("grp"), col("freq").desc, col("item"))
  }

  /** Count-min frequency sketch of a column, as the raw mergeable binary
    * (decode with org.apache.spark.util.sketch.CountMinSketch.readFrom).
    * Deterministic for a fixed seed. */
  def countMin(df: DataFrame, column: String,
               eps: Double = 0.001, confidence: Double = 0.99,
               seed: Int = 42): DataFrame =
    df.agg(count_min_sketch(col(column), lit(eps), lit(confidence),
      lit(seed)).as("cms"))
}
