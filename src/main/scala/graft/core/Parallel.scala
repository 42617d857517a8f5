package graft.core

import org.apache.spark.sql.DataFrame

/** Fan-out for compute-heavy narrow transforms over sub-split inputs.
  *
  * The bench corpus ships each table as ONE single-row-group parquet
  * file, so a scan plans exactly one task no matter the split configs
  * (parquet cannot split inside a row group) and every per-row kernel
  * above it — regex panels, PII scans, token statistics — runs SERIALLY
  * on a many-core session (measured: the x163 quality panel spent its
  * whole 1.4 s in one task at local[32]; with this fan-out 0.86 s, and
  * the same A/B showed 35-43% off x168/x97). One round-robin exchange of
  * a tiny input costs ~10 ms and unlocks the full core count for the
  * projection above it.
  *
  * SCALE-ADAPTIVE, not a local[32] constant: the trigger is Catalyst's
  * own size estimate for the input plan, and the fan-out width derives
  * from that estimate (one partition per [[Granule]], capped at the
  * session's default parallelism). Past [[MaxBytes]] this is
  * structurally a no-op — at production scale the scan's splits carry
  * the parallelism and no plan ever pays the extra shuffle.
  *
  * Deliberately NOT applied at the [[Tables.load]] boundary: the same
  * A/B measured it as a 10-25% LOSS on queries whose first operation is
  * already an exchange (explode→groupBy miners, shuffle joins,
  * aggregate-only relational scans) — there the downstream exchange
  * parallelizes the heavy work anyway and the extra shuffle is pure
  * overhead. Callers apply it exactly where a heavy NARROW transform
  * sits between the scan and the first exchange.
  */
object Parallel {

  /** Estimate ceiling: above this the input's own splits parallelize. */
  private[graft] val MaxBytes: Long = 256L * 1024 * 1024

  /** Estimated bytes one fan-out partition should carry: small enough
    * that every compute-heavy table spreads to the full core count,
    * large enough that a near-empty input keeps its single partition
    * instead of scheduling empty tasks. */
  private[graft] val Granule: Long = 16L * 1024

  /** Round-robin-repartition `df` to a width derived from its estimated
    * size; identity when the estimate exceeds [[MaxBytes]] (or is
    * unavailable). Round-robin (no key): uniform spread, deterministic
    * under task retry (sort-before-repartition, SPARK-23207). */
  def fanOut(df: DataFrame): DataFrame = {
    val bytes =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => return df }
    if (bytes > BigInt(MaxBytes)) df
    else {
      val target = (BigInt(df.sparkSession.sparkContext.defaultParallelism)
        .min((bytes + Granule - 1) / Granule)).toInt
      if (target <= 1) df else df.repartition(target)
    }
  }
}
