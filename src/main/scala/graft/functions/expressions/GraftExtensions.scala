package graft.functions.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extension registering the engine's native expressions under SQL
  * names (usable from spark.sql and via functions.call_function), plus the
  * whole-operator as-of join (planner strategy + optimizer rules) and the
  * planner strategy of plan-local subplan sharing. Wired
  * by GraftSession.builder; also usable standalone via
  * spark.sql.extensions=graft.functions.expressions.GraftExtensions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  /** Friendly failure for the arity argument instead of a raw CCE. */
  private def intLiteral(e: Expression, fn: String): Int = e match {
    case Literal(i: Int, _) => i
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT for its count argument, got: ${other.sql}")
  }

  private def longLiteral(e: Expression, fn: String): Long = e match {
    case Literal(l: Long, _) => l
    case Literal(i: Int, _) => i.toLong
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT/BIGINT seed argument, got: ${other.sql}")
  }

  /** Arity-checked builder: every registration reports a usable error on
    * wrong argument count (naming the function and its signature) rather
    * than a raw IndexOutOfBoundsException from args(i). */
  private def fn(name: String, usage: String, arity: Int)(
      build: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), info(name, usage),
      (args: Seq[Expression]) => {
        require(args.length == arity,
          s"$name expects $arity argument(s): $usage; got ${args.length}")
        build(args)
      })

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(fn("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float/double arrays", 2)(
      args => CosineSim(args(0), args(1))))
    e.injectFunction(fn("dot_product",
      "dot_product(a, b) - double dot product of two float/double arrays", 2)(
      args => DotProduct(args(0), args(1))))
    e.injectFunction(fn("dot_product_bytes",
      "dot_product_bytes(a, b) - integer dot product of two int8 code arrays", 2)(
      args => DotProductBytes(args(0), args(1))))
    e.injectFunction(fn("interleave_bits",
      "interleave_bits(a, b, bits) - Morton z-value of two bucket ordinals", 3)(
      args => InterleaveBits(args(0), args(1), intLiteral(args(2), "interleave_bits"))))
    e.injectFunction(fn("sorted_array_contains",
      "sorted_array_contains(arr, key) - binary-search membership in an ascending-sorted int array", 2)(
      args => SortedArrayContains(args(0), args(1))))
    e.injectFunction(fn("minhash_signature",
      "minhash_signature(shingles, k) - k min-hashes (XXH64 seeds 0..k-1)", 2)(
      args => MinHashSignature(args(0), intLiteral(args(1), "minhash_signature"))))
    e.injectFunction(fn("word_shingles",
      "word_shingles(tokens, n) - distinct space-joined n-grams", 2)(
      args => WordShingles(args(0), intLiteral(args(1), "word_shingles"))))
    e.injectFunction(fn("word_shingles_all",
      "word_shingles_all(tokens, n) - all positional space-joined n-grams", 2)(
      args => WordShinglesAll(args(0), intLiteral(args(1), "word_shingles_all"))))
    e.injectFunction(fn("char_shingles",
      "char_shingles(text, n) - distinct character n-grams", 2)(
      args => CharShingles(args(0), intLiteral(args(1), "char_shingles"))))
    e.injectFunction(fn("normalize_text",
      "normalize_text(text) - NFC + lowercase + whitespace-collapsed canonical image", 1)(
      args => NormalizeText(args(0))))
    e.injectFunction(fn("simhash_chunks",
      "simhash_chunks(tokens) - 64-bit SimHash as 4x16-bit chunks", 1)(
      args => SimHashChunks(args(0))))
    e.injectFunction(fn("jl_project",
      "jl_project(vec, outDim, dim, seed) - Johnson-Lindenstrauss projection to outDim dims", 4)(
      args => JlProject(args(0), intLiteral(args(1), "jl_project"),
        intLiteral(args(2), "jl_project"), longLiteral(args(3), "jl_project"))))
    e.injectFunction(fn("lsh_buckets",
      "lsh_buckets(vec, nTables, bits, dim, seed) - sign-LSH bucket id per hyperplane table", 5)(
      args => LshBuckets(args(0),
        intLiteral(args(1), "lsh_buckets"), intLiteral(args(2), "lsh_buckets"),
        intLiteral(args(3), "lsh_buckets"), longLiteral(args(4), "lsh_buckets"))))
    // numeric arguments go through an explicit Cast: the builder runs
    // pre-analysis (argument types unknown), and the strict expressions
    // would otherwise reject natural calls like kll_quantile(sk, 0.5)
    // (DECIMAL literal) or kll_sketch_agg(some_decimal_col). A
    // double->double cast is folded away by SimplifyCasts.
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    e.injectFunction(fn("kll_sketch_agg",
      "kll_sketch_agg(v) - KLL doubles quantile sketch (binary image) of v", 1)(
      args => KllSketchAgg(Cast(args(0), DoubleType)).toAggregateExpression()))
    e.injectFunction(fn("kll_union_agg",
      "kll_union_agg(sk) - union of KLL sketch images (binary image out)", 1)(
      args => KllUnionAgg(args(0)).toAggregateExpression()))
    e.injectFunction(fn("kll_quantile",
      "kll_quantile(sk, rank) - quantile estimate at normalized rank", 2)(
      args => KllQuantile(args(0), Cast(args(1), DoubleType))))
    e.injectFunction(fn("kll_count",
      "kll_count(sk) - exact item count the sketch absorbed", 1)(
      args => KllCount(args(0))))
    e.injectFunction(fn("freq_sketch_agg",
      "freq_sketch_agg(item) - frequent-items sketch (binary image) of a string column", 1)(
      args => FreqSketchAgg(Cast(args(0), StringType)).toAggregateExpression()))
    e.injectFunction(fn("freq_union_agg",
      "freq_union_agg(sk) - union of frequent-items sketch images", 1)(
      args => FreqUnionAgg(args(0)).toAggregateExpression()))
    e.injectFunction(fn("freq_top_items",
      "freq_top_items(sk, min) - heavy items with bounds (upper bound > min)", 2)(
      args => FreqTopItems(args(0), Cast(args(1), LongType))))
    e.injectFunction(fn("freq_stream_weight",
      "freq_stream_weight(sk) - exact total weight the sketch absorbed", 1)(
      args => FreqStreamWeight(args(0))))
    // TopCentroids is intentionally not SQL-registered: its codebook is
    // runtime driver data (collected centroids), not literal SQL text.

    // whole-operator extension: plans AsOfJoinNode to the merge-scan exec,
    // with optimizer rules so pushdown/pruning don't stop at the node
    e.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    // plan-local subplan sharing: plans the marker that keeps a shared
    // CTE from being inlined (graft.plans.Shared)
    e.injectPlannerStrategy(_ => new graft.plans.SharedDefStrategy)
    e.injectOptimizerRule(_ => new graft.plans.AsOfJoinOptimizations)
  }
}
