package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over ArrayType(FloatType) embedding columns, composed from
  * codegen'd higher-order built-ins (zip_with / aggregate) — no UDFs, so
  * the expressions stay inside WholeStageCodegen and are usable in any
  * Catalyst context (filters, joins, windows).
  *
  * All arithmetic is double: float elements are widened before multiply,
  * and the fold is strictly sequential left-to-right, which makes results
  * bit-stable for a given array order (oracle parity).
  */
object VectorFunctions {

  /** `let`-binding for array expressions: evaluates `arr` ONCE and exposes
    * it as a lambda variable to `f`. Without this, an inline-constructed
    * array expression that appears N times in a tree (or inside a lambda
    * body) is re-evaluated on every access — e.g. element_at(split(...), i)
    * inside a per-shingle lambda re-runs split() per element, turning a
    * linear scan into a quadratic one. */
  def bindArray(arr: Column)(f: Column => Column): Column =
    element_at(transform(array(arr), a => f(a)), 1)

  /** Sequential-fold dot product in double precision (native expression;
    * see functions.expressions.DotProduct). */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.NativeExpressions.dotProduct(a, b)

  /** HOF composition of the same fold — kept as the pure-built-ins
    * reference implementation (bit-identical results; used to cross-check
    * the native expression in tests). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** Cosine similarity; 0.0 for zero-norm inputs (rather than NaN). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.NativeExpressions.cosineSim(a, b)

  /** Built-ins-only cosine (reference/cross-check twin of `cosine`). */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = sqrt(dotHof(a, a)) * sqrt(dotHof(b, b))
    when(denom === 0.0, lit(0.0)).otherwise(dotHof(a, b) / denom)
  }
}
