package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.VectorFunctions._

/** Similarity search over embedding columns.
  *
  *   - Brute-force top-k: broadcast the (small) query set against the full
  *     vector table — one narrow pass over the big side, then a per-query
  *     top-k. This is the exactness baseline.
  *   - Sign-LSH (random hyperplanes) bucketed ANN: vectors land in
  *     2^bits buckets per table; candidates are same-bucket equi-join
  *     matches in any of L tables. Recall is tested against brute force.
  *
  * At cluster scale the brute-force path stays viable as long as the
  * query set broadcasts (thousands of queries); beyond that the LSH path
  * (or an IVF variant with a trained codebook) takes over: the shuffle is
  * on bucket keys, never a cross join of the vector table with itself.
  *
  * Near-dup mining (nearDupPairs / top1) follows the same rule via the
  * [[Blocking]] strategies: candidates come from LSH-bucket or
  * IVF-centroid equi-joins BY DEFAULT, so candidate count scales with
  * bucket width, not with the square of a data-dependent block (one hot
  * label over 10^8 vectors would otherwise mean 10^16 pairs).
  */
object Similarity {

  /** Exact cosine top-k for each query vector, via the bounded-heap
    * TopKAggregator: each input partition reduces to <= k rows per query
    * BEFORE the shuffle (partial aggregation), so per-query data movement
    * is O(partitions * k) instead of the O(n) a window row_number ships
    * and sorts. Self-matches excluded. Ties: higher sim, then lower id —
    * identical to the window form (asserted in ExtrasSpec). */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(k))
    vectors.as("v")
      .join(broadcast(queries.as("q")), col("v.vec_id") =!= col("q.query_id"))
      .select(col("q.query_id"), col("v.vec_id").as("neighbor_id"),
        cosine(col("q.qvec"), col("v.embedding")).as("sim"))
      .groupBy(col("query_id"))
      .agg(topk(col("sim"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Window-form twin of bruteForceTopK (reference implementation for
    * cross-checking; simpler plan, ships every scored row). */
  def bruteForceTopKWindow(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = vectors.as("v")
      .join(broadcast(queries.as("q")), col("v.vec_id") =!= col("q.query_id"))
      .select(col("q.query_id"), col("v.vec_id").as("neighbor_id"),
        cosine(col("q.qvec"), col("v.embedding")).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** queries() entry: top-5 neighbors for the first 20 vectors. Ranks are
    * hash-checkable (similarity gaps at rank boundaries are ~1e-5, far
    * above cross-engine float noise; verified empirically). */
  def knnQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    bruteForceTopK(emb, queries, 5)
      .orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------------- candidate blocking

  /** How near-dup candidate pairs are generated. The blocking choice is
    * what decides whether the operator survives 100 TB: candidates must
    * come from bucket equi-joins whose bucket population is controlled by
    * the strategy, never from an all-pairs join within a data-dependent
    * block (one hot block → block² pairs). */
  sealed trait Blocking

  /** All pairs within each value of `col`. QUADRATIC in the hottest
    * block — a test/configuration shape (exact answers on small blocks),
    * not a scale default. */
  final case class ColumnBlocking(col: String) extends Blocking

  /** Sign-LSH bucket blocking (the scale-safe default): a pair is a
    * candidate iff it shares a bucket in at least one of `nTables`
    * hyperplane tables. Random pairs collide with probability
    * ~nTables/2^bits (0.5^bits per table); true near-dups at cos>=0.9
    * collide with probability >=0.97 at the defaults (p_bit = 1-θ/π =
    * 0.856, 1-(1-0.856^10)^16). Defaults tuned for high-similarity
    * near-dup mining, unlike lshTopK's mid-similarity search defaults. */
  final case class LshBlocking(nTables: Int = 16, bits: Int = 10,
                               dim: Int = 64, seed: Long = 42L) extends Blocking

  /** IVF centroid blocking: a pair is a candidate iff the two vectors
    * share one of their `nProbe` nearest centroids (overlapping-canopy
    * discipline; multi-probe on both sides catches cross-boundary
    * neighbors). Candidates per list ~ (n*nProbe/nCentroids)². */
  final case class IvfBlocking(nCentroids: Int = 256, nProbe: Int = 2) extends Blocking

  /** (vec_id, t, bkt) bucket rows for LSH blocking — ids only; embedding
    * payloads never travel through the blocking shuffle. One fused
    * LshBuckets kernel call per row + posexplode (pos = table index).
    * A corpus whose dimension doesn't match the blocking's `dim` fails
    * loudly inside the kernel — no silent bucket-0 quadratic collapse
    * (guard lives in the expression so SQL and streaming users get it
    * too, with no eager driver-side jobs). */
  private def lshIdBuckets(vectors: DataFrame, b: LshBlocking): DataFrame =
    vectors.select(col("vec_id"),
        posexplode(lshBucketsExpr(col("embedding"), b.nTables, b.bits, b.dim, b.seed)))
      .select(col("vec_id"), col("pos").cast("int").as("t"), col("col").as("bkt"))

  /** Distinct candidate pairs (id1 < id2) under the blocking strategy.
    * Every arm is bucket-equi-join-shaped; only ids shuffle. */
  def candidatePairs(vectors: DataFrame, blocking: Blocking): DataFrame = blocking match {
    case ColumnBlocking(c) =>
      val a = vectors.select(col(c).as("_blk"), col("vec_id").as("id1"))
      val b = vectors.select(col(c).as("_blk"), col("vec_id").as("id2"))
      a.join(b, Seq("_blk"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2")).distinct()
    case lsh: LshBlocking =>
      val buckets = lshIdBuckets(vectors, lsh)
      buckets.as("a").join(buckets.as("b"),
          col("a.t") === col("b.t") && col("a.bkt") === col("b.bkt") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
        .distinct()
    case IvfBlocking(nCentroids, nProbe) =>
      val index = ivfIndex(vectors, nCentroids)
      val probed = vectors
        .select(col("vec_id"),
          explode(topCentroidsExpr(col("embedding"), index.centroids, nProbe))
            .as("centroid_id"))
      probed.as("a").join(probed.as("b"),
          col("a.centroid_id") === col("b.centroid_id") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
        .distinct()
  }

  /** Embedding-cosine near-duplicate pairs: all candidate pairs with
    * exact cosine >= threshold. Candidates come from the blocking
    * strategy (LSH buckets by default — see [[Blocking]]); the exact
    * re-rank join touches candidate pairs only, so total cost is
    * O(candidates), which the bucket width controls — never block². */
  def nearDupPairs(vectors: DataFrame, threshold: Double,
                   blocking: Blocking = LshBlocking()): DataFrame = {
    val e1 = vectors.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val e2 = vectors.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    candidatePairs(vectors, blocking)
      .join(e1, "id1").join(e2, "id2")
      .withColumn("sim", cosine(col("e1"), col("e2")))
      .filter(col("sim") >= threshold)
      .select(col("id1"), col("id2"), col("sim"))
  }

  /** Best (exact-cosine) neighbor per vector among its blocking
    * candidates — the candidate-duplicate report shape. With the LSH/IVF
    * defaults this is approximate-top-1 at O(candidates); with
    * ColumnBlocking it is the exact in-block top-1. */
  def top1(vectors: DataFrame, blocking: Blocking = LshBlocking()): DataFrame = {
    // both orientations from ONE reference to the candidate subplan (a
    // union of two selects over it would execute the expensive
    // bucket-join + distinct once per branch — exchange reuse dedups the
    // shuffle write, not the join/aggregate work above it)
    val sym = candidatePairs(vectors, blocking)
      .select(explode(array(
        struct(col("id1").as("vec_id"), col("id2").as("nid")),
        struct(col("id2").as("vec_id"), col("id1").as("nid")))).as("p"))
      .select(col("p.vec_id").as("vec_id"), col("p.nid").as("nid"))
    val e1 = vectors.select(col("vec_id"), col("embedding"))
    val e2 = vectors.select(col("vec_id").as("nid"), col("embedding").as("nemb"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("nid"))
    sym.join(e1, "vec_id").join(e2, "nid")
      .select(col("vec_id"), col("nid"), cosine(col("embedding"), col("nemb")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("nid").as("best_id"))
  }

  /** queries() entry: exact top-1 within each label block (ColumnBlocking
    * as the oracle-checkable test configuration of [[top1]]; production
    * defaults to LSH/IVF blocking, asserted sub-quadratic in ExtrasSpec). */
  def top1WithinLabel(spark: SparkSession, dir: String): DataFrame =
    top1(Tables.load(spark, dir, "embeddings"), ColumnBlocking("label"))
      .orderBy(col("vec_id"))

  /** x45's cosine threshold, shared with the DuckDB oracle. Sits just above
    * the corpus's within-label p99 (~0.28), so the pair set is the real
    * near-dup tail, not noise. */
  private[graft] val NearDupThreshold: Double = 0.3

  /** x45: embedding-cosine near-dup pairs within label blocks — the
    * oracle-checkable ColumnBlocking configuration of [[nearDupPairs]]
    * (production defaults to LSH/IVF blocking, asserted sub-quadratic in
    * ExtrasSpec). Pair ids only: the sim column is an engine-local double
    * whose exactness the threshold test already exercises (x05/x07's
    * rank-only discipline). */
  def nearDupQuery(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(Tables.load(spark, dir, "embeddings"), NearDupThreshold,
        ColumnBlocking("label"))
      .select(col("id1"), col("id2"))
      .orderBy(col("id1"), col("id2"))

  // ------------------------------------------ hard-negative mining (x120)

  /** x120: HARD-NEGATIVE MINING — for every anchor vector, its nearest
    * SAME-label neighbor (the positive) and its nearest DIFFERENT-label
    * neighbor (the hardest negative): the triplet-mining step that
    * turns a labeled embedding table into contrastive training pairs,
    * where random negatives are too easy to carry gradient. Ids only
    * (the x05/x07/x45 rank-only discipline — sims order, never emit).
    *
    * This face is the exact brute-force baseline (the x05 contract);
    * the scale path mines negatives from ANN candidates
    * ([[ivfTopK]] filtered to a different label) instead of the full
    * pair grid, trading the guaranteed-hardest negative for
    * O(probed-lists) cost — recall of that trade is what the x06
    * recall specs measure. An anchor whose label has no other member
    * keeps a null positive rather than vanishing.
    *
    * Shape: one symmetric sim computation, one two-leg rank window
    * (partitioned by anchor x leg), conditional-min rollup to one row
    * per anchor. */
  def hardNegatives(vectors: DataFrame): DataFrame = {
    val a = vectors.select(col("vec_id"), col("label"), col("embedding"))
    val b = vectors.select(col("vec_id").as("nid"), col("label").as("nlabel"),
      col("embedding").as("nemb"))
    // Rank on round(sim, 6) with the nid tie-break — the x45/x73 argmax
    // discipline — so float-accumulation jitter between engines cannot
    // flip near-tie anchors to different pos/neg ids.
    val w = Window.partitionBy(col("vec_id"), col("is_pos"))
      .orderBy(col("sim").desc, col("nid"))
    a.join(b, col("vec_id") =!= col("nid"))
      .select(col("vec_id"), col("nid"),
        (col("label") === col("nlabel")).as("is_pos"),
        round(cosine(col("embedding"), col("nemb")), 6).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("vec_id"))
      .agg(min(when(col("is_pos"), col("nid"))).as("pos_id"),
        min(when(!col("is_pos"), col("nid"))).as("neg_id"))
  }

  def hardNegativesQuery(spark: SparkSession, dir: String): DataFrame =
    hardNegatives(Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") < 200))
      .orderBy(col("vec_id"))

  // ------------------------------------------------------------ sign LSH

  /** Fused native bucket-id computation: ARRAY<LONG>, element t = bucket
    * in table t. One kernel call per row; planes ride as a reference
    * object, not nTables*bits*dim literal expressions. */
  private def lshBucketsExpr(vec: Column, nTables: Int, bits: Int, dim: Int,
                             seed: Long): Column =
    graft.functions.expressions.NativeExpressions.lshBuckets(vec, nTables, bits, dim, seed)

  /** Deterministic pseudo-random hyperplanes (seeded), as literal arrays.
    * Reference twin of the fused kernel's plane stream — kept (with
    * [[bucketExprHof]]) to assert the native expression bit-identical in
    * ExtrasSpec. */
  private[graft] def planes(nTables: Int, bits: Int, dim: Int, seed: Long): Seq[Seq[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nTables)(Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian())))
  }

  /** Bucket id of a vector in one LSH table: sign bits against `bits`
    * hyperplanes packed into a long. Composed (per-plane literal-array)
    * reference twin of [[lshBucketsExpr]]. */
  private[graft] def bucketExprHof(vec: org.apache.spark.sql.Column,
                                   tablePlanes: Seq[Array[Double]]): org.apache.spark.sql.Column =
    tablePlanes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit).toIndexedSeq: _*)
      when(dot(vec, planeLit) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_ bitwiseOR _)

  /** ANN top-k via sign-LSH: candidates = pairs sharing a bucket in any
    * table; exact cosine re-rank on candidates only. */
  /** Default bits/tables tuned for mid-similarity neighbors (cos ~0.4,
    * i.e. random-vector corpora, the hard case): P(bit agree) ~0.63, so
    * per-table match ~0.63^6 = 6%, and 1-(1-6%)^12 ~ 0.54 recall while
    * probing ~12/64 of the corpus. Corpora with true near-dups (cos>0.9)
    * can push bits up sharply (0.9→0.94^bits per table). */
  def lshTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              nTables: Int = 12, bits: Int = 6, dim: Int = 64,
              seed: Long = 42L): DataFrame = {
    // ids-only through the candidate machinery (the nearDupPairs
    // discipline): the bucket equi-join and the per-(query, neighbor)
    // dedup shuffle carry two longs per row, not two embedding payloads —
    // ~16x narrower at dim=64. Vectors re-join only for the final exact
    // re-rank, touching candidate rows alone.
    def withBuckets(df: DataFrame, vecCol: String, idAlias: String) =
      df.select(col(idAlias),
          posexplode(lshBucketsExpr(col(vecCol), nTables, bits, dim, seed)))
        .select(col(idAlias), col("pos").cast("int").as("t"), col("col").as("bkt"))

    val vb = withBuckets(vectors.select(col("vec_id"), col("embedding")), "embedding", "vec_id")
    val qb = withBuckets(queries.select(col("query_id"), col("qvec")), "qvec", "query_id")
    val cand = qb.as("q").join(vb.as("v"),
        col("q.t") === col("v.t") && col("q.bkt") === col("v.bkt") &&
          col("q.query_id") =!= col("v.vec_id"))
      .select(col("q.query_id"), col("v.vec_id").as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    // queries deduped by id before the re-join: a duplicate query row
    // would re-expand every deduped candidate pair into two ranked rows
    // (the old payload-carrying dedup collapsed them implicitly). Cheap —
    // the query side is small by contract. vec_id is a key of `vectors`
    // (a duplicate-keyed vector table is malformed input); deduping it
    // here would cost a full shuffle of the big side per query.
    val scored = cand
      .join(queries.select(col("query_id"), col("qvec")).dropDuplicates("query_id"), "query_id")
      .join(vectors.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("embedding")).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Scale-aware LSH table count: `max(20, ceil(4 * log2(n / 62.5)))`.
    *
    * The recall-vs-cost scaling law: per-table match probability for a
    * true neighbor is sim-dependent only (p ~ 0.63^bits at cos ~0.4), so
    * recall = 1 - (1 - p)^T does NOT decay with n in theory — but the
    * top-5 bar is empirically harder at SMALL n (the 5th-best cosine of
    * 500 random vectors sits lower than of 2000, so each true neighbor
    * collides less), hence a floor of 20, and more distractors crowd the
    * exact answer as n grows, hence the log term. Tuned grid, bits=6:
    * n=500: T=12 -> 0.46, T=20 -> 0.62; n=2000: T=12 -> 0.53,
    * T=20 -> 0.72, T=24 -> 0.75. Candidate cost grows only as
    * n * log n / 2^bits — the probe fraction per table is unchanged.
    * Anchors: n<=2000 -> 20, n=10^5 -> 43, n=10^6 -> 56. */
  private[graft] def lshTablesFor(n: Long): Int =
    math.max(20, math.ceil(4.0 * (math.log(math.max(n, 1L).toDouble / 62.5) / math.log(2.0))).toInt)

  /** rows-only queries() entry for the ANN path (bucket assignment depends
    * on engine-local float dot signs, so no cross-engine oracle; recall
    * vs brute force is asserted in ScalaTest instead, and re-measured at
    * the bench SF every round). Table count scales with corpus size via
    * [[lshTablesFor]] — the parquet count is metadata-only, never a scan. */
  def annQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    lshTopK(emb, queries, 5, nTables = lshTablesFor(emb.count()))
      .orderBy(col("query_id"), col("rank"))
  }

  // ----------------------------------------------------------------- IVF

  /** IVF (inverted-file) ANN. The codebook INIT is a deterministic
    * strided sample by id (no RNG), then refined by a few Lloyd
    * iterations over an id-strided training sample — strided init alone
    * mirrors the data only where ids are uniform over space; on
    * clustered corpora it lands several near-duplicate centroids in
    * dense regions and none in others, and the hottest centroid's list
    * (hence its probe join) grows without bound. Lloyd spreads the
    * codebook toward the corpus density, bounding list imbalance
    * (spec-asserted on a skew-clustered corpus).
    *
    * Scale shape: each Lloyd iteration is one narrow assignment pass
    * over the TRAINING SAMPLE (bounded at ~256 vectors/centroid by an
    * id stride) + one nCentroids x dim hash aggregate — KBs collected
    * per iteration; the full-corpus assignment pass stays a single
    * narrow projection against the literal codebook: no join, no
    * window, no shuffle anywhere except the final candidate equi-join
    * on centroid_id. That is the shape that survives 100 TB: codebooks
    * are KBs; vectors never move except into their lists.
    *
    * Assumes dense integer ids for the strides (true of the corpus; any
    * table can synthesize one with monotonically_increasing_id + zip). */
  case class IvfIndex(centroids: Array[(Int, Array[Float])], assigned: DataFrame)

  /** Fused native centroid ranking: ARRAY<INT> of the nProbe best
    * centroid ids, best first (ties to the smaller id). The codebook
    * travels as reference objects, not a nCentroids x dim literal tree. */
  private def topCentroidsExpr(vec: Column, cents: Array[(Int, Array[Float])],
                               nProbe: Int): Column =
    graft.functions.expressions.NativeExpressions.topCentroids(vec, cents, nProbe)

  private[graft] def centroidArrayLit(cents: Array[(Int, Array[Float])]): Column =
    array(cents.map { case (id, v) =>
      struct(lit(id).as("cid"), array(v.toIndexedSeq.map(lit): _*).as("cvec"))
    }.toIndexedSeq: _*)

  /** Composed reference twin of [[topCentroidsExpr]]: per-centroid
    * (sim, -cid) structs over the literal codebook — rank by array_max /
    * sort+reverse+slice. Kept to assert the fused kernel bit-identical in
    * ExtrasSpec. */
  private[graft] def bestCentroidsHof(vec: Column, cents: Array[(Int, Array[Float])]): Column =
    transform(centroidArrayLit(cents),
      c => struct(cosine(vec, c.getField("cvec")).as("sim"),
        (-c.getField("cid")).as("negid")))

  /** Vectors per centroid in the Lloyd training sample: enough to place
    * means stably, small enough that training cost is independent of
    * corpus size (the id stride discards the rest). */
  val LloydSamplePerCentroid = 256L

  def ivfIndex(vectors: DataFrame, nCentroids: Int, lloydIters: Int = 3): IvfIndex = {
    val n = vectors.count()
    val stride = math.max(n / nCentroids, 1L)
    val init = vectors
      .filter(pmod(col("vec_id"), lit(stride)) === 0 && col("vec_id") < lit(stride * nCentroids))
      .select((col("vec_id") / stride).cast("int").as("centroid_id"), col("embedding"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    // Lloyd refinement over an id-strided sample (deterministic pick;
    // the per-centroid means are deterministic up to float-sum order).
    // The sample is cached: without it every iteration would re-scan the
    // FULL corpus just to re-extract the same few-thousand rows.
    val cents = if (lloydIters <= 0) init else trainLloyd(vectors, init, n, nCentroids, lloydIters)
    val assigned = vectors
      .select(col("vec_id"),
        element_at(topCentroidsExpr(col("embedding"), cents, 1), 1).as("centroid_id"),
        col("embedding"))
    IvfIndex(cents, assigned)
  }

  private def trainLloyd(vectors: DataFrame, init: Array[(Int, Array[Float])],
                         n: Long, nCentroids: Int, lloydIters: Int): Array[(Int, Array[Float])] = {
    val sampleStride = math.max(n / (LloydSamplePerCentroid * nCentroids), 1L)
    val sample = vectors
      .filter(pmod(col("vec_id"), lit(sampleStride)) === 0)
      .select(col("embedding"))
      .persist()
    try {
      (1 to lloydIters).foldLeft(init) { case (cur, _) =>
        // one narrow pass assigns the sample, one (centroid, dim) hash agg
        // collects the means — nCentroids x dim rows, KBs on the driver
        val means = sample
          .select(element_at(topCentroidsExpr(col("embedding"), cur, 1), 1).as("cid"),
            posexplode(col("embedding")))
          .groupBy(col("cid"), col("pos"))
          .agg(avg(col("col")).as("m"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
          .groupBy(_._1)
          .map { case (cid, rows) =>
            val dim = rows.map(_._2).max + 1
            val v = new Array[Float](dim)
            rows.foreach { case (_, pos, m) => v(pos) = m.toFloat }
            cid -> v
          }
        // a centroid whose sample list came up empty keeps its previous
        // position (ids stay 0..n-1 stable); cosine ranking is invariant
        // to the mean's norm, so no renormalization is needed
        cur.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
      }
    } finally sample.unpersist()
  }

  /** Persist an IVF codebook as a (centroid_id, cvec) parquet — the
    * KB-scale artifact that makes the index REUSABLE across sessions and
    * batches, the discipline [[graft.operators.Dedup.minhashBuckets]]
    * already follows for the MinHash index: train once on a corpus,
    * [[loadCodebook]] later, and [[assignWithCodebook]] any table (the
    * original corpus, or just a NEW batch to append) in one narrow pass
    * with zero re-training and zero old-corpus rescans. */
  def saveCodebook(cents: Array[(Int, Array[Float])], path: String,
                   spark: SparkSession): Unit = {
    import spark.implicits._
    cents.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("centroid_id", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadCodebook(spark: SparkSession, path: String): Array[(Int, Array[Float])] =
    spark.read.parquet(path)
      .select(col("centroid_id"), col("cvec"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)

  /** Nearest-centroid assignment of any vector table under a FROZEN
    * codebook — the one narrow pass [[ivfIndex]] ends with, exposed so a
    * persisted codebook can index new data incrementally. Assignments
    * are a pure per-row function of (embedding, codebook), so assigning
    * batches separately and unioning equals assigning the union
    * (spec-asserted). */
  def assignWithCodebook(vectors: DataFrame,
                         cents: Array[(Int, Array[Float])]): IvfIndex =
    IvfIndex(cents, vectors
      .select(col("vec_id"),
        element_at(topCentroidsExpr(col("embedding"), cents, 1), 1).as("centroid_id"),
        col("embedding")))

  /** Persist the FULL IVF index — `path/codebook` (the KB-scale
    * [[saveCodebook]] artifact) plus `path/lists`, the assigned
    * (vec_id, embedding) posting lists partitioned ON DISK by
    * centroid_id — following the persisted-index discipline of
    * [[TextSearch.saveIndex]] (bucketed postings) and
    * [[Dedup.saveDecontamIndex]] (grams+bloom). The pair publishes as
    * one generation ([[graft.core.DeltaIndex.publish]]) so codebook
    * and lists can never drift. The partition layout is the scale
    * lever: a probe reads ONLY the probed centroids' list partitions
    * (static partition pruning, spec-asserted), so query cost is
    * proportional to the probed lists, not corpus size. Build once per
    * corpus snapshot; [[ivfTopKIndexed]] forever — no re-training, no
    * re-assignment, no full-corpus scan per session. */
  def saveIvfIndex(vectors: DataFrame, path: String, nCentroids: Int,
                   lloydIters: Int = 3): Unit = {
    val spark = vectors.sparkSession
    graft.core.DeltaIndex.publish(spark, path) { dir =>
      val index = ivfIndex(vectors, nCentroids, lloydIters)
      saveCodebook(index.centroids, s"$dir/codebook", spark)
      index.assigned
        // co-locate each list before the write: hash-repartitioning on
        // centroid_id puts ALL of a centroid's rows in one task (two
        // centroids may share a task on hash collision), so each
        // partition directory holds exactly one file — one file per
        // NON-EMPTY centroid (a centroid with no vectors writes no
        // dir), not tasks x centroids small files
        .repartition(nCentroids, col("centroid_id"))
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$dir/lists")
    }
  }

  /** A [[saveIvfIndex]] artifact reloaded: codebook back on the driver
    * (KBs), lists as the partition-pruned parquet relation. [[ivfTopK]]
    * over it is result-identical to the inline index (spec-asserted).
    * The generation dir is resolved ONCE
    * ([[graft.core.DeltaIndex.current]]) so codebook and lists come
    * from the same publish. */
  def loadIvfIndex(spark: SparkSession, path: String): IvfIndex = {
    val root = graft.core.DeltaIndex.current(spark, path)
    IvfIndex(loadCodebook(spark, s"$root/codebook"),
      spark.read.parquet(s"$root/lists")
        .select(col("vec_id"), col("centroid_id").cast("int").as("centroid_id"),
          col("embedding")))
  }

  /** [[ivfTopK]] against a persisted index with STATIC partition
    * pruning: the probed centroid set (≤ queries×nProbe and ≤
    * nCentroids — a KB-bounded collect over the small query batch
    * only; the corpus is never touched) pushes into the lists scan as
    * a partition filter,
    * so only the probed partitions' files are read (numFiles
    * spec-gated, the TextSearchSpec discipline). Result-identical to
    * [[ivfTopK]] on the inline index: the equi-join on centroid_id
    * could never match an unprobed list anyway. */
  def ivfTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                     k: Int, nProbe: Int): DataFrame = {
    val root = graft.core.DeltaIndex.current(spark, path)
    ivfTopKPruned(spark, s"$root/lists", loadCodebook(spark, s"$root/codebook"),
      queries, k, nProbe)
  }

  /** The pruned-probe core [[ivfTopKIndexed]] and the streaming face
    * ([[graft.streaming.StreamingOps.annProbeBatch]]) share: collect the
    * query batch's probed centroid set (bounded by queries×nProbe and by
    * nCentroids — KBs; the corpus is never touched), push it into the
    * lists scan as a partition filter, probe only those lists. Takes a
    * pre-loaded codebook so a long-running stream ranks against the
    * driver-resident KB-scale array without re-reading it per batch. */
  def ivfTopKPruned(spark: SparkSession, listsPath: String,
                    cents: Array[(Int, Array[Float])], queries: DataFrame,
                    k: Int, nProbe: Int): DataFrame = {
    val probed = queries
      .select(explode(topCentroidsExpr(col("qvec"), cents, nProbe))
        .as("centroid_id"))
      .distinct().collect().map(_.getInt(0)).sorted
    val lists = spark.read.parquet(listsPath)
      .select(col("vec_id"), col("centroid_id").cast("int").as("centroid_id"),
        col("embedding"))
      .filter(col("centroid_id").isin(probed.map(Int.box): _*))
    ivfTopK(IvfIndex(cents, lists), queries, k, nProbe)
  }

  /** Query the IVF index: rank centroids per query (narrow, against the
    * literal codebook), probe the top nProbe lists, exact cosine within
    * the probed lists only. */
  def ivfTopK(index: IvfIndex, queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val probed = queries
      .select(col("query_id"), col("qvec"),
        explode(topCentroidsExpr(col("qvec"), index.centroids, nProbe))
          .as("centroid_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    probed.join(index.assigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qvec"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  // ------------------------------------------------- k-means (x78)

  /** Cluster count / Lloyd update rounds for the oracle-checked k-means. */
  val KmeansK = 8
  val KmeansIters = 2

  /** x78: DETERMINISTIC spherical k-means — the oracle-checked face of
    * the clustering [[ivfIndex]] does heuristically. Semantic curation
    * pipelines cluster embeddings to stratify corpora, cap per-topic
    * volume, or pick prototypes; this variant makes every step
    * cross-engine exact so a DuckDB twin reproduces the ASSIGNMENTS
    * bit-for-bit:
    *
    *   - init: the vectors of the [[KmeansK]] smallest vec_ids (no RNG);
    *   - assign: argmax of round(cosine, 6) (the x73 discipline — the
    *     only float op, quantized before any comparison), ties to the
    *     smaller centroid id;
    *   - update: per-component exact DECIMAL(18,4) SUM of the assigned
    *     vectors (cosine is scale-invariant, so the sum's direction IS
    *     the mean's — the 1/n division that could round is dropped,
    *     exactly as x73's label centroids); an emptied cluster keeps its
    *     previous centroid;
    *   - [[KmeansIters]] update rounds, then one final assignment pass.
    *
    * Scale shape: identical to [[ivfIndex]] — the codebook is a KB-scale
    * driver artifact (k x dim decimals per round), each round is one
    * narrow assignment map against literal centroids plus one (cluster,
    * component) hash agg; the vector table itself never shuffles and the
    * final output is a single narrow projection. */
  def kmeansQuery(spark: SparkSession, dir: String): DataFrame =
    kmeans(Tables.load(spark, dir, "embeddings"), KmeansK, KmeansIters)

  /** The clustering itself over any (vec_id, embedding) frame — see
    * [[kmeansQuery]] for semantics. Init takes the vectors of the k
    * smallest vec_ids (callers guarantee ids 0..k-1 exist, as the corpus
    * tables do). */
  def kmeans(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    val (emb, cents) = kmeansFit(vectors, k, iters)
    kmeansAssigned(emb, cents)
      .select(col("vec_id"), col("cluster"), col("cos_c"))
      .orderBy(col("vec_id"))
  }

  /** The (sim, -cid) struct array against the literal deterministic
    * codebook — the scored form both the argmax assignment and the
    * top-nProbe budget assignment rank. Lexicographic struct ordering:
    * max round-6 sim wins, ties to the LARGER negid = smaller centroid
    * id. */
  private def kmStructs(cents: Array[(Long, Array[Double])],
                        vec: Column): Column =
    transform(
      array(cents.map { case (id, v) =>
        struct(lit(id).as("cid"), array(v.toIndexedSeq.map(lit): _*).as("cv"))
      }.toIndexedSeq: _*),
      c => struct(
        round(cosine(vec, c.getField("cv")), 6)
          .cast("decimal(18,6)").as("sim"),
        (-c.getField("cid")).as("negid")))

  /** Best (sim, -cid) struct — see [[kmStructs]]. */
  private def kmBest(cents: Array[(Long, Array[Double])], vec: Column): Column =
    array_max(kmStructs(cents, vec))

  /** The top `nProbe` (sim, -cid) structs, best first — the same
    * deterministic order as [[kmBest]] extended past rank 1 (array_sort
    * ascends lexicographically; reversed, equal sims resolve to the
    * larger negid = smaller cid first). */
  private def kmTopN(cents: Array[(Long, Array[Double])], vec: Column,
                     nProbe: Int): Column =
    slice(reverse(array_sort(kmStructs(cents, vec))), 1, nProbe)

  private def kmeansAssigned(emb: DataFrame,
                             cents: Array[(Long, Array[Double])]): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        kmBest(cents, col("embedding")).as("b"))
      .select(col("vec_id"), col("embedding"),
        (-col("b.negid")).as("cluster"), col("b.sim").cast("double").as("cos_c"))

  /** Session-scoped memo of deterministic fits: the codebook is a pure
    * function of (input files, cleaning plan, k, iters), so faces that
    * refit the same corpus split per invocation (x78/x83/x92, the
    * x170/x174/x176/x178/x179/x180 acceptance family) reuse the
    * collected centroids instead of re-running the Lloyd jobs — the
    * production shape: a codebook is an ARTIFACT, not a per-query
    * computation (the persisted-index faces already embody this on
    * disk). Results are bit-identical by the fit's determinism; only
    * plans whose every leaf is a file-backed relation are keyed (the
    * key carries the exact input-file inventory, so a rewritten
    * input dir or a new index generation can never alias a stale
    * codebook; in-memory test frames carry no immutability contract
    * and always recompute). */
  private val fitMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, Int, Int, String), Array[(Long, Array[Double])]]
  private val FitMemoMax = 64
  /** Count of ACTUAL Lloyd computations (spec hook: a memo hit must not
    * increment it; a rewritten input must). */
  private[graft] val fitComputes = new java.util.concurrent.atomic.AtomicLong

  private def fitKey(emb: DataFrame, k: Int,
                     iters: Int): Option[(SparkSession, Int, Int, String)] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    if (emb.isStreaming) return None
    scala.util.Try {
      val plan = emb.queryExecution.analyzed
      val leaves = plan.collectLeaves()
      // path + length + mtime per input file (the snapshotSig
      // discipline): a same-name in-place rewrite of an input file must
      // miss the memo, not serve the stale fit
      val files = leaves.map {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation =>
            Some(h.location.listFiles(Nil, Nil).flatMap(_.files)
              .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
              .sorted.mkString(","))
          case _ => None
        }
        case _ => None
      }
      if (files.exists(_.isEmpty)) None
      else
        // toJSON, not toString: toString elides field lists past
        // spark.sql.debug.maxToStringFields ("... N more fields"), so
        // two DIFFERENT plans could render — and alias — identically
        // (ADVICE r18); the JSON form is lossless
        Some((emb.sparkSession, k, iters,
          plan.canonicalized.toJSON + "|" + files.flatten.mkString(";")))
    }.toOption.flatten
  }

  /** The deterministic Lloyd loop behind [[kmeans]], exposed so x83's
    * oracle-checked ANN probe can pin its codebook with the SAME
    * cross-engine-exact discipline: returns the cleaned (vec_id,
    * embedding) frame and the final exact-decimal-sum centroids. */
  private[graft] def kmeansFit(vectors: DataFrame, k: Int,
                               iters: Int): (DataFrame, Array[(Long, Array[Double])]) = {
    import graft.core.Determinism.dec
    val emb = vectors
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val key = fitKey(emb, k, iters)
    key.flatMap(fitMemo.get).foreach { cents => return (emb, cents) }
    fitComputes.incrementAndGet()
    // init: the vectors of the k SMALLEST vec_ids present. On the corpus
    // tables (dense ids from 0) this is exactly the historical
    // `vec_id < k` init, so x78/x83/x92's oracle results are unchanged;
    // on a FILTERED input (x170 fits on the reference half only) it
    // stays well-defined without requiring ids 0..k-1 to exist. The
    // TakeOrdered limit is k rows — driver-bounded by construction.
    val init: Array[(Long, Array[Double])] = emb.orderBy(col("vec_id")).limit(k)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val cents = (1 to iters).foldLeft(init) { case (cur, _) =>
      val sums = kmeansAssigned(emb, cur)
        .select(col("cluster"), posexplode(col("embedding")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(dec(col("col"))).cast("double").as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (cid, rows) =>
          val v = new Array[Double](rows.map(_._2).max + 1)
          rows.foreach { case (_, pos, c) => v(pos) = c }
          cid -> v
        }
      cur.map { case (cid, old) => cid -> sums.getOrElse(cid, old) }
    }
    key.foreach { kk =>
      // bound the memo: drop dead-session entries first, then oldest-ish
      fitMemo.filterInPlace { case ((s, _, _, _), _) =>
        !s.sparkContext.isStopped }
      if (fitMemo.size >= FitMemoMax)
        fitMemo.keys.take(fitMemo.size - FitMemoMax + 1)
          .foreach(fitMemo.remove)
      fitMemo.put(kk, cents)
    }
    (emb, cents)
  }

  // ---------------------------------------- oracle-checked ANN (x83)

  /** x83 probe geometry: top-[[AnnExactK]] of the candidates found in
    * each query's [[AnnExactProbes]] best clusters, for the first
    * [[AnnExactQueryIds]] vectors as queries. */
  val AnnExactK = 5
  val AnnExactProbes = 2
  val AnnExactQueryIds = 20

  /** x83: ORACLE-CHECKED ANN — the IVF probe shape (centroid rank →
    * posting-list equi-join → exact top-k within probed lists) under a
    * codebook pinned by the x78 deterministic k-means, making every
    * step cross-engine exact and the whole probe DuckDB-expressible:
    *
    *   - codebook: [[kmeansFit]]'s exact-decimal-sum centroids
    *     ([[KmeansK]] clusters, [[KmeansIters]] Lloyd rounds, no RNG);
    *   - posting lists: the final deterministic assignment (argmax of
    *     round(cosine, 6), ties to the smaller cluster id) — each
    *     vector in exactly one list;
    *   - probe: each query ranks the literal codebook by round-6
    *     cosine (ties smaller cid) and keeps [[AnnExactProbes]]
    *     clusters — a narrow codegen'd projection, no shuffle;
    *   - candidates: equi-join on cluster id (vectors outside probed
    *     lists are never scored — the IVF bargain the x06 recall specs
    *     measure, here made bit-reproducible);
    *   - exact top-[[AnnExactK]] by round-6 cosine, ties to the
    *     smaller neighbor id.
    *
    * Scale shape: identical to [[ivfTopK]] — KB-scale driver codebook,
    * one narrow ranking pass per side, one candidate equi-join whose
    * fan-in is bounded by list sizes, one per-query k-row window.
    * This graduates the ANN family from rows-only to hash-checked:
    * x06's engine-specific variants keep their recall specs, but the
    * probe MECHANICS are now driver-oracle-gated here. */
  def annExactQuery(spark: SparkSession, dir: String): DataFrame = {
    val (emb, cents) = kmeansFit(Tables.load(spark, dir, "embeddings"),
      KmeansK, KmeansIters)
    val lists = kmeansAssigned(emb, cents)
      .select(col("vec_id"), col("embedding"), col("cluster"))
    val queries = emb.filter(col("vec_id") < AnnExactQueryIds)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    // per-(query, centroid) round-6 sim over the literal codebook
    val centArr = array(cents.map { case (id, v) =>
      struct(lit(id).as("cid"), array(v.toIndexedSeq.map(lit): _*).as("cv"))
    }.toIndexedSeq: _*)
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("psim").desc, col("cid"))
    val probed = queries
      .select(col("query_id"), col("qvec"), explode(centArr).as("c"))
      .select(col("query_id"), col("qvec"), col("c.cid").as("cid"),
        round(cosine(col("qvec"), col("c.cv")), 6)
          .cast("decimal(18,6)").as("psim"))
      .withColumn("prn", row_number().over(probeW))
      .filter(col("prn") <= AnnExactProbes)
      .select(col("query_id"), col("qvec"), col("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    probed.join(lists, probed("cid") === lists("cluster"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qvec"), col("embedding")), 6)
          .cast("decimal(18,6)").as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= AnnExactK)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------- semantic dedup (x92, SemDeDup)

  /** x92's cosine accept threshold — shared with the DuckDB twin. Sits
    * at the x45 near-dup cut (within-label p99 ≈ 0.28), so the
    * within-cluster pair tail is real duplication, not noise. */
  val SemDedupTau = 0.3

  /** x92: SEMANTIC dedup (the SemDeDup recipe, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then within each
    * cluster drop every vector that has a higher-priority (here:
    * smaller vec_id) cluster-mate above a cosine threshold. The
    * embedding-space answer to "these documents say the same thing in
    * different words" — exact dedup (x01), gram Jaccard (x46/x76) and
    * embedding near-dup pairs (x45) all key on surface overlap; this
    * keys on meaning, with the cluster as the blocking unit.
    *
    * Determinism discipline: the codebook is [[kmeansFit]]'s (x78 —
    * no RNG, exact decimal centroid sums), the pair accept is the one
    * float op round(cosine, 6) compared in double — every decision
    * cross-engine exact, so the WHOLE keep/drop verdict is
    * driver-hash-gated (upstream SemDeDup is RNG-seeded and
    * irreproducible across engines by construction).
    *
    * Scale shape: the quadratic term is per-cluster — production runs
    * k ≈ corpus/10⁴ so lists stay bounded (the paper uses 50k clusters
    * for LAION); the cluster equi-join IS the blocking join, vectors
    * never pair across clusters, and the verdict aggregate touches
    * O(accepted pairs). At 100 TB the assignment comes from
    * [[ivfIndex]]/[[assignWithCodebook]]'s persisted codebook instead
    * of an in-run fit — same probe mechanics, zero retraining. */
  def semDedup(vectors: DataFrame, k: Int, iters: Int,
               tau: Double): DataFrame = {
    val (emb, cents) = kmeansFit(vectors, k, iters)
    val assigned = kmeansAssigned(emb, cents)
      .select(col("vec_id"), col("embedding"), col("cluster"))
    val l = assigned.select(col("cluster"), col("vec_id").as("id1"),
      col("embedding").as("e1"))
    val r = assigned.select(col("cluster"), col("vec_id").as("id2"),
      col("embedding").as("e2"))
    // lower id wins: a vector is dropped iff SOME smaller-id cluster-mate
    // clears tau (count emitted for the report; keep = n_dups == 0)
    val dups = l.join(r, "cluster")
      .filter(col("id1") < col("id2"))
      .filter(round(cosine(col("e1"), col("e2")), 6) >= tau)
      .groupBy(col("id2").as("vec_id"))
      .agg(count(lit(1)).as("n_dups"))
    assigned.select(col("vec_id"), col("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        when(col("n_dups").isNull, 1L).otherwise(0L).as("keep"))
  }

  def semDedupQuery(spark: SparkSession, dir: String): DataFrame =
    semDedup(Tables.load(spark, dir, "embeddings"), KmeansK, KmeansIters,
        SemDedupTau)
      .orderBy(col("vec_id"))

  // ------------------------------- margin-scored mining (x94, CCMatrix)

  /** x94 geometry: queries, neighborhood size for the margin
    * denominator. Shared with the DuckDB twin. */
  val MarginQueryIds = 50
  val MarginK = 8

  /** x94: MARGIN-scored nearest-neighbor mining (the CCMatrix/LASER
    * bitext-mining criterion, Artetxe & Schwenk 2019): a candidate
    * match is trusted not by its absolute cosine — dense hubs score
    * high against everything — but by its MARGIN over the query's own
    * neighborhood: cos(x, best) / mean(cos(x, top-k)). Margin ≈ 1
    * means "best is no better than the local hub density" (reject);
    * margin >> 1 means a genuinely isolated match. The mining step
    * behind parallel-corpus extraction and cross-lingual alignment.
    *
    * Determinism: candidate ranking on round-6 cosine with id
    * tie-breaks (x83's discipline); the denominator sum is EXACT over
    * the round-6 decimals, and the margin image is the shape-pinned
    * two-op float expression (cos1·k)/sum — identical op order in the
    * twin, so the doubles agree bit-for-bit.
    *
    * Scale shape: brute-force per-query scan here (the oracle-checkable
    * face, like x05); production swaps the candidate generator for the
    * [[ivfTopKIndexed]] probe — margin only needs the top-k list, which
    * any ANN path already produces. */
  def marginMining(vectors: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val emb = vectors.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    queries.join(emb, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qvec"), col("embedding")), 6)
          .cast("decimal(18,6)").as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col("query_id"))
      .agg(
        max(when(col("rank") === 1, col("neighbor_id"))).as("best_id"),
        max(when(col("rank") === 1, col("sim"))).as("cos1"),
        // decimal sum of decimal(18,6) inputs — exact, order-independent
        sum(col("sim")).as("s"),
        // the ACTUAL neighborhood size: with fewer than k candidates
        // (tiny source, or a production ANN probe returning < k) the
        // denominator's mean must divide by what was summed — a
        // constant k would score a 1-neighbor hub as margin k,
        // i.e. "maximally isolated", the exact inversion of the signal
        count(lit(1)).as("m"))
      .select(col("query_id"), col("best_id"),
        // shape-pinned float image: exactly (cos1 * m) / sum, both
        // operands correctly-rounded casts of exact decimals
        (col("cos1").cast("double") * col("m") / col("s").cast("double"))
          .as("margin"))
  }

  def marginQuery(spark: SparkSession, dir: String): DataFrame =
    marginMining(Tables.load(spark, dir, "embeddings"), MarginQueryIds, MarginK)
      .orderBy(col("query_id"))

  /** rows-only queries() entry for the IVF path. */
  def ivfQuery(spark: SparkSession, dir: String): DataFrame =
    ivfQueryN(spark, dir, nProbe = 4)

  /** The x06 IVF face at an explicit probe budget — the bench's
    * recall-vs-cost sweep knob (nProbe=4 is the committed face).
    * nCentroids is tuned to the bench corpora (thousands of near-random
    * vectors: recall tracks the probed-list share, so 4/8 lists holds
    * recall@5 >= 0.8 where 4/16 sat at ~0.6 — measured in AnnTune,
    * tracked per-round by the bench's ann_recall sweep). At real scale
    * nCentroids grows ~sqrt(n) and clustered embeddings give recall far
    * above the probe share; the knob, not the plan, changes. */
  def ivfQueryN(spark: SparkSession, dir: String, nProbe: Int): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val index = ivfIndex(emb, nCentroids = 8)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    ivfTopK(index, queries, k = 5, nProbe = nProbe)
      .orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------------ int8 quantized search

  /** Per-vector symmetric int8 quantization: scale = 127 / max|v|
    * (all-zero vectors get scale 0 and an all-zero code), code_i =
    * round(v_i * scale) in [-127, 127]. Returns a struct of the code,
    * its precomputed L2 norm (for cosine without touching floats again),
    * and the scale (for dequantized dot values). A quantized corpus is
    * ~4x narrower than float32 through every broadcast, shuffle, and
    * cache — that, not FLOPs, is what quantization buys at 100 TB. */
  def quantize(vec: Column): Column = bindArray(vec) { v =>
    bindArray(transform(v, x => abs(x))) { a =>
      val amax = array_max(a)
      bindArray(when(amax > 0,
          transform(v, x => round(x * (lit(127.0) / amax)).cast("byte")))
        .otherwise(transform(v, _ => lit(0).cast("byte")))) { q =>
        struct(q.as("code"),
          sqrt(aggregate(q, lit(0L), (acc, x) => acc + x.cast("long") * x.cast("long"))
            .cast("double")).as("qnorm"),
          when(amax > 0, lit(127.0) / amax).otherwise(lit(0.0)).as("scale"))
      }
    }
  }

  /** Quantized cosine top-k with exact re-rank: score ALL pairs with the
    * integer dot over int8 codes (narrow data, native kernel), keep the
    * top `k * overFetch` candidates per query, then re-rank just those
    * with full-precision cosine and keep the top k. Approximation error
    * only costs recall if a true top-k neighbor falls below the
    * over-fetched candidate cut — the recall spec measures exactly that. */
  def quantizedTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                    overFetch: Int = 4): DataFrame = {
    import graft.functions.expressions.NativeExpressions.dotProductBytes
    val qv = vectors.select(col("vec_id"), col("embedding"),
      quantize(col("embedding")).as("qz"))
    val qq = queries.select(col("query_id"), col("qvec"),
      quantize(col("qvec")).as("qqz"))
    // int8 scoring pass: approx cosine = dot(codes) / (qnorm_a * qnorm_b)
    val approxTopk = udaf(new graft.functions.TopKAggregator(k * overFetch))
    // zero-norm guard: 0.0/0.0 would be NaN, which Scala's total Double
    // ordering ranks ABOVE every real score in the top-k heap — zero
    // vectors would crowd out true neighbors. Score them 0.0, exactly
    // like cosine() does for zero-norm inputs.
    val normProd = col("q.qqz.qnorm") * col("v.qz.qnorm")
    val cand = qv.as("v")
      .join(broadcast(qq.as("q")), col("v.vec_id") =!= col("q.query_id"))
      .select(col("q.query_id"), col("v.vec_id").as("neighbor_id"),
        when(normProd > 0,
          dotProductBytes(col("q.qqz.code"), col("v.qz.code")).cast("double") / normProd)
          .otherwise(lit(0.0)).as("qsim"))
      .groupBy(col("query_id"))
      .agg(approxTopk(col("qsim"), col("neighbor_id")).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("neighbor_id"))
    // exact re-rank of the candidate set only
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    cand
      .join(vectors.select(col("vec_id").as("neighbor_id"), col("embedding")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  // ---------------------------- JL-projected two-stage search (x140)

  /** x140 defaults, shared with the specs: 64 → 32 dims, 100 coarse
    * candidates reranked exactly to top-5. */
  private[graft] val JlOutDim: Int = 32
  private[graft] val JlSeed: Long = 97L
  private[graft] val JlCandidates: Int = 100

  /** Project an embedding column to `outDim` dims via the native
    * Johnson-Lindenstrauss expression — the index-shrinking move a
    * 100 TB vector pipeline runs before indexing (a 2× narrower vector
    * is 2× less shuffle, scan, and distance arithmetic; the JL lemma
    * prices the distortion, and the spec measures it). */
  def jlProject(vec: Column, outDim: Int = JlOutDim, dim: Int = 64,
                seed: Long = JlSeed): Column =
    graft.functions.expressions.NativeExpressions.jlProject(vec, outDim, dim, seed)

  /** x140: TWO-STAGE retrieval — a coarse top-`candidates` search in
    * the JL-projected space (cheap: narrow vectors) reranked EXACTLY
    * in the original space to top-k. The production coarse-then-rerank
    * shape: the expensive exact cosine touches only
    * |queries|·candidates pairs instead of |queries|·corpus, and the
    * projection is where the 100 TB saving lives (the corpus-sized
    * pass runs at outDim, not dim). Engine-local floats (rows-only at
    * the gate); recall vs the exact x05 answer is spec-asserted and
    * bench-tracked next to the IVF/LSH paths. */
  def jlTopK(vectors: DataFrame, queries: DataFrame, k: Int,
             outDim: Int = JlOutDim, dim: Int = 64, seed: Long = JlSeed,
             candidates: Int = JlCandidates): DataFrame = {
    val pv = vectors.select(col("vec_id"),
      jlProject(col("embedding"), outDim, dim, seed).as("embedding"))
    val pq = queries.select(col("query_id"),
      jlProject(col("qvec"), outDim, dim, seed).as("qvec"))
    val coarse = bruteForceTopK(pv, pq, candidates)
      .select(col("query_id"), col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    coarse
      .join(vectors.select(col("vec_id").as("neighbor_id"), col("embedding")),
        Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Scale-aware coarse-candidate count: `max(100, ceil(n / 5))`.
    *
    * The recall-vs-cost scaling law: JL distortion is fixed by outDim
    * (~1/sqrt(32) per pair), so the number of DISTRACTORS whose projected
    * sim lands inside the distortion band of the true top-k grows
    * linearly with n on low-similarity corpora — the coarse rank cutoff
    * must track it, i.e. the candidate FRACTION (not count) is the
    * invariant. Tuned grid at n=2000 / outDim=32: cand=100 -> 0.47,
    * cand=400 -> 0.78, cand=800 -> 0.94. Cost: the exact rerank touches
    * |queries| * candidates pairs — linear in n but with a tiny constant,
    * always dominated by the corpus-sized coarse pass it gates; the JL
    * saving (the corpus pass runs at outDim, not dim) is untouched. On
    * genuinely clustered corpora (true neighbors far above the noise
    * floor) a fixed candidate count suffices and the max() floor is what
    * you get at small n. */
  private[graft] def jlCandidatesFor(n: Long): Int =
    math.max(JlCandidates, math.ceil(math.max(n, 1L).toDouble / 5.0).toInt)

  def jlKnnQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    jlTopK(emb, queries, 5, candidates = jlCandidatesFor(emb.count()))
      .orderBy(col("query_id"), col("rank"))
  }

  /** rows-only queries() entry for the quantized path (same queries as
    * x05; recall vs brute force asserted in ExtrasSpec). */
  def quantizedQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    quantizedTopK(emb, queries, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  // --------------------------------------- class-centroid outliers (x73)

  /** x73's per-label cut, shared with the DuckDB oracle. */
  private[graft] val CentroidOutlierK: Int = 5

  /** x73: the bottom-k vectors per label by cosine to their LABEL
    * CENTROID — embedding-space label-consistency curation (a vector far
    * from its class centroid is mislabeled, an outlier, or a boundary
    * case worth auditing; the standard companion to x45's pairwise
    * near-dup check). The "centroid" is the per-component exact decimal
    * SUM of the label's vectors — cosine is scale-invariant, so the
    * direction of the sum IS the direction of the mean and the division
    * by n (a float op that would reorder nothing but could round) is
    * dropped entirely. Component sums go through DECIMAL(18,4)
    * (order-independent, cross-engine exact); the one float expression
    * left is the cosine itself, rounded to 6 decimals (the x23/x48
    * discipline) before the rank so the output is engine-stable.
    *
    * Scale shape: one posexplode + two-phase (label, component) decimal
    * agg — dims × labels rows — reassembled into |labels| centroid
    * arrays (order carried in structs, no collect_list-order
    * dependence) and broadcast back; the vector table never shuffles.
    * WindowGroupLimit bounds the per-label rank sort. */
  def centroidOutlierQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Determinism.dec
    val emb = Tables.load(spark, dir, "embeddings")
    val comp = emb
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(dec(col("col"))).cast("double").as("c"))
    val centroids = comp.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("centroid"))
    val scored = emb.join(broadcast(centroids), Seq("label"))
      .select(col("label"), col("vec_id"),
        round(cosine(col("embedding"), col("centroid")), 6)
          .cast("decimal(18,6)").cast("double").as("cos_c"))
    val w = Window.partitionBy(col("label")).orderBy(col("cos_c"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= CentroidOutlierK)
      .orderBy(col("label"), col("rank"))
  }

  // --------------------------- embedding principal axis (x158)

  /** x158's power-iteration count, shared with the DuckDB oracle. Eight
    * steps from the uniform start separate PC1 on any spectrum with a
    * non-trivial eigengap; the CONTRACT is "exactly [[PcaIters]] steps",
    * so both engines land on the identical axis whether or not the
    * iteration has numerically converged. */
  private[graft] val PcaIters: Int = 8

  /** x158: EMBEDDING PRINCIPAL AXIS + PER-VECTOR PROJECTION — the PCA
    * move every embedding-space curation step leans on (drift
    * monitoring between crawl snapshots, whitening before ANN indexing,
    * anisotropy audits à la Ethayarajh 2019): the corpus's top
    * principal direction by power iteration on the Gram matrix
    * G = Σ_d v_d·v_dᵀ, then each vector's coordinate along it.
    *
    * Determinism (the reason this is oracle-checkable AT ALL): every
    * Gram entry is an exact DECIMAL dot product (components through the
    * x73 FLOAT→DOUBLE→DECIMAL(18,4) hop, products at scale 8, sums
    * exact); each power-iteration step does the one inexact operation
    * — the normalize — in double with a round-at-6 on both the matvec
    * image and the normalized component, so engines re-synchronize at
    * every step (the x67 discipline, iterated); the final projection is
    * the x45 sequential double fold rounded at 6. The matvec
    * Σ_i G(i,j)·x_i is exact decimal at scale 14 (24,8 × 12,6 — chosen
    * to stay inside DECIMAL(38) on every engine).
    *
    * Scale shape: the Gram build is the ONLY corpus-sized work — two
    * chained in-row posexplodes (d²/2 upper-triangle pairs per vector,
    * fixed-point LONG products) into a hash aggregate where partial
    * aggregation collapses everything map-side before a ≤d²-row shuffle
    * (at d = 64: 2080 rows TOTAL cross the wire, whatever the corpus
    * size). The iteration itself runs on the
    * collected d×d matrix — a driver-side collect BOUNDED BY d², the
    * codebook discipline, never corpus-sized — and the axis returns to
    * the executors as a 64-literal array in the projection, a narrow
    * shuffle-free map over the corpus. One corpus scan for G, one for
    * the projection. */
  def pcaProjection(emb: DataFrame, iters: Int = PcaIters): DataFrame = {
    require(iters > 0, s"pcaProjection: iters=$iters")
    // G in FIXED-POINT LONGS: each component becomes its exact
    // DECIMAL(18,4) image scaled to an integer (×10^4, in-row, d ops
    // per vector), so the d²/2 hot-path products are long·long and the
    // per-cell sum is a long — value-identical to the decimal form
    // (gv = Σ li·lj / 10^8, rebuilt exactly at collect time) at a
    // fraction of the CPU. The Gram is symmetric, so only j ≥ i pairs
    // are generated and the mirror is filled driver-side. Declared
    // bound: n·(10^4·|v|max)² < 2^63 — components |v| ≤ 9 up to a
    // BILLION vectors before the long sum could wrap (embeddings are
    // unit-normalized in practice; widen the fixture, not the engine,
    // past that).
    val (g, d) = gramOf(emb)
    val axis = powerIterate(g, d, iters).map(_.doubleValue)
    val axisCol = array(axis.map(lit): _*)
    emb.select(col("vec_id"), col("label"),
      round(dot(col("embedding"), axisCol), 6)
        .cast("decimal(18,6)").cast("double").as("proj"))
  }

  /** The ≤d²-row Gram aggregate plan (see [[pcaProjection]]'s
    * fixed-point build) — exposed so PlanSpec can assert that one
    * query scans it once. */
  private[graft] def gramFrame(emb: DataFrame): DataFrame = {
    import graft.core.Determinism.dec
    val le = emb.select(transform(col("embedding"),
      v => (dec(v) * lit(10000)).cast("long")).as("le"))
    le.select(col("le"), posexplode(col("le")))
      .toDF("le", "i", "li")
      .select(col("i"), col("li"), posexplode(col("le")))
      .toDF("i", "li", "j", "lj")
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("li") * col("lj")).as("gs"))
  }

  /** The collected exact-decimal Gram matrix (see [[pcaProjection]]'s
    * fixed-point build) and its dimensionality: one collect, so one
    * corpus Gram scan per call and nothing cached past it
    * (PlanSpec-gated). */
  private def gramOf(emb: DataFrame): (Array[Array[java.math.BigDecimal]], Int) = {
    val rows = gramFrame(emb).collect()
    require(rows.nonEmpty, "pcaProjection: empty embedding table")
    val d = rows.iterator.map(_.getInt(0)).max + 1
    val g = Array.ofDim[java.math.BigDecimal](d, d)
    rows.foreach { r =>
      val v = java.math.BigDecimal.valueOf(r.getLong(2), 8)
      g(r.getInt(0))(r.getInt(1)) = v
      g(r.getInt(1))(r.getInt(0)) = v
    }
    (g, d)
  }

  /** [[PcaIters]] exact-replay power-iteration steps on the collected
    * Gram matrix — BigDecimal products/sums exact (identical to the SQL
    * twins' bounded-precision decimals: scale 14 matvec terms, scale 12
    * norm squares, both inside DECIMAL(38)), doubles only where the
    * twins cast, rounds HALF_UP at 6 exactly where the twins round. */
  // valueOf (shortest decimal repr), not new JBD (exact expansion):
  // Spark's round(double, 6) goes through scala BigDecimal(d) =
  // java valueOf — the driver mirror must round the SAME image
  private def roundAt(v: Double, scale: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v)
      .setScale(scale, java.math.RoundingMode.HALF_UP)

  /** The exact-decimal matvec Σ_i G(i,j)·x_i (scale g.scale + x.scale,
    * the twins' DECIMAL(38) budget). */
  private def matvec(g: Array[Array[java.math.BigDecimal]], d: Int,
                     x: Array[java.math.BigDecimal])
      : Array[java.math.BigDecimal] =
    Array.tabulate(d) { j =>
      var acc = java.math.BigDecimal.ZERO
      var i = 0
      while (i < d) {
        if (g(i)(j) != null) acc = acc.add(g(i)(j).multiply(x(i)))
        i += 1
      }
      acc
    }

  private def powerIterate(g: Array[Array[java.math.BigDecimal]], d: Int,
                           iters: Int): Array[java.math.BigDecimal] = {
    import java.math.{BigDecimal => JBD}
    // x0_i = round6(1/sqrt(d)), the uniform start (exactly 0.125 at d=64)
    var x: Array[JBD] = Array.fill(d)(roundAt(1.0 / math.sqrt(d.toDouble), 6))
    for (_ <- 1 to iters) {
      // the twins' re-synchronization point: matvec image to double,
      // rounded at 6 (yd), exact decimal norm of the rounded vector
      val yd = matvec(g, d, x).map(v => roundAt(v.doubleValue, 6))
      val norm = math.sqrt(
        yd.foldLeft(JBD.ZERO)((a, v) => a.add(v.multiply(v))).doubleValue)
      x = yd.map(v => roundAt(v.doubleValue / norm, 6))
    }
    x
  }

  def pcaProjectionQuery(spark: SparkSession, dir: String): DataFrame =
    pcaProjection(Tables.load(spark, dir, "embeddings"))
      .orderBy(col("vec_id"))

  /** x162: TOP-TWO PRINCIPAL COMPONENTS BY DEFLATION — x158's axis
    * plus the second one: λ₁ removed from the Gram
    * (G₂ = G − λ₁·v₁v₁ᵀ, Hotelling deflation) and the power iteration
    * re-run, giving the 2-D PCA map every embedding-space audit plots
    * (cluster structure, drift direction, anisotropy plane). Output is
    * each vector's (proj1, proj2) coordinates.
    *
    * Determinism, same budget as x158: λ₁ = round6(Σ yd_j·v_j) with yd
    * the rounded matvec image (exact scale-12 dot product); each
    * deflated cell re-rounds at 8 through the double image
    * (G(24,8) − λ₆·round6(v_i·v_j) is exact at scale 12 and re-enters
    * the iteration as DECIMAL(24,8)) — every inexact step lands where
    * the DuckDB oracle lands it. Deflation is driver-side d×d arithmetic
    * on the already-collected matrix; the corpus pays nothing beyond
    * x158's one Gram scan plus the one projection map. */
  def pcaProjection2(emb: DataFrame, iters: Int = PcaIters): DataFrame = {
    val (v1, v2) = pcaAxes(emb, iters)
    projectOnto(emb, v1.map(_.doubleValue), v2.map(_.doubleValue))
  }

  /** x162's trained artifact in memory: the top-two principal axes
    * (power iteration, then Hotelling deflation for the second — see
    * [[pcaProjection2]]'s determinism note). */
  private[graft] def pcaAxes(emb: DataFrame, iters: Int = PcaIters)
      : (Array[java.math.BigDecimal], Array[java.math.BigDecimal]) = {
    import java.math.{BigDecimal => JBD}
    require(iters > 0, s"pcaAxes: iters=$iters")
    val (g, d) = gramOf(emb)
    val v1 = powerIterate(g, d, iters)
    val yd = matvec(g, d, v1).map(v => roundAt(v.doubleValue, 6))
    val lam = roundAt(
      yd.zip(v1).foldLeft(JBD.ZERO) { case (a, (y, v)) =>
        a.add(y.multiply(v)) }.doubleValue, 6)
    val g2 = Array.tabulate(d, d) { (i, j) =>
      val base = if (g(i)(j) != null) g(i)(j) else JBD.ZERO
      val uv = roundAt(v1(i).multiply(v1(j)).doubleValue, 6)
      roundAt(base.subtract(lam.multiply(uv)).doubleValue, 8)
    }
    (v1, powerIterate(g2, d, iters))
  }

  /** The shared x158/x162 projection tail: both axes as literal arrays
    * in ONE stateless narrow map over the vectors — shuffle-free, so it
    * runs unchanged on a stream. */
  private def projectOnto(emb: DataFrame, v1: Array[Double],
                          v2: Array[Double]): DataFrame = {
    def projCol(v: Array[Double]) = {
      val axisCol = array(v.map(lit).toIndexedSeq: _*)
      round(dot(col("embedding"), axisCol), 6)
        .cast("decimal(18,6)").cast("double")
    }
    emb.select(col("vec_id"), col("label"),
      projCol(v1).as("proj1"), projCol(v2).as("proj2"))
  }

  def pcaProjection2Query(spark: SparkSession, dir: String): DataFrame =
    pcaProjection2(Tables.load(spark, dir, "embeddings"))
      .orderBy(col("vec_id"))

  /** Persist x162's trained axes as a 2×d-row parquet artifact
    * (`axes`: axis ∈ {1,2}, i, x) — the frozen coordinate system a
    * live embedding-drift monitor projects arrivals into
    * ([[graft.streaming.StreamingOps.pcaProjectionStream]], the
    * clipStream frozen-baseline shape). Doubles round-trip parquet
    * exactly, so the frozen projection is bit-identical to the batch
    * x162 map (spec-asserted). Published atomically. */
  def savePcaAxes(emb: DataFrame, path: String,
                  iters: Int = PcaIters): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (v1, v2) = pcaAxes(emb, iters)
    val rows =
      v1.toIndexedSeq.zipWithIndex.map { case (x, i) => (1, i, x.doubleValue) } ++
      v2.toIndexedSeq.zipWithIndex.map { case (x, i) => (2, i, x.doubleValue) }
    graft.core.DeltaIndex.publish(spark, path) { dir =>
      rows.toDF("axis", "i", "x").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/axes")
    }
  }

  /** Project vectors into a FROZEN axes table ([[savePcaAxes]]'s
    * layout): the ≤2d-row artifact is collected once at plan-build
    * time (the frozen-moments discipline) and compiled into the same
    * literal-array stateless map batch x162 ends with — no join, no
    * state, no shuffle. */
  def pcaProjectAgainst(emb: DataFrame, axes: DataFrame): DataFrame = {
    val rows = axes
      .select(col("axis").cast("int"), col("i").cast("int"),
        col("x").cast("double"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    def axisOf(a: Int): Array[Double] = {
      val v = rows.filter(_._1 == a).sortBy(_._2)
      require(v.nonEmpty, s"pcaProjectAgainst: axis $a missing from the artifact")
      require(v.map(_._2).toSeq == (0 until v.length),
        s"pcaProjectAgainst: axis $a has gaps")
      v.map(_._3)
    }
    projectOnto(emb, axisOf(1), axisOf(2))
  }

  // --------------------------- bipartite SemDeDup (x170) ---------------

  /** x170: BIPARTITE SEMANTIC near-dup probe — the semantic tier of the
    * x169 acceptance audit: which CANDIDATE vectors (a new delivery)
    * say the same thing as the FROZEN reference corpus, in the x92
    * SemDeDup sense (within-cluster cosine over a deterministic
    * codebook), restricted to cross-side pairs only. x169 probes a
    * delivery at SURFACE grain (shared rare n-grams) — a paraphrased or
    * re-rendered vendor duplicate shares no grams and passes it
    * untouched; this probe keys on the embedding, exactly the failure
    * class SemDeDup exists for (Abbas et al. 2023, arXiv:2303.09540).
    *
    * Semantics: the codebook is the x78 deterministic k-means fit ON
    * THE REFERENCE SIDE (frozen when the reference was ingested — the
    * x55/x91 frozen-reference discipline); both sides assign against it
    * (argmax round-6 cosine, ties to the smaller centroid id); a
    * candidate's verdict aggregates its REFERENCE cluster-mates with
    * round(cosine, 6) >= tau — count, keep flag, and the best-match
    * reference (max round-6 cosine, ties to the smaller ref_id via the
    * kmBest struct trick). Reference-internal and candidate-internal
    * pairs never exist by construction. Every float op is the one
    * round-at-6 cosine image, so the WHOLE verdict — including which
    * reference is "best" — is cross-engine exact and driver-hash-gated.
    *
    * Scale shape: x92's — the quadratic term is per-cluster and only
    * cand x ref; the cluster equi-join IS the blocking join; the
    * codebook is a KB driver artifact. At 100 TB the reference side
    * comes from [[saveSemRefIndex]]'s persisted centroid-partitioned
    * lists ([[semProbeAgainst]]) so the reference corpus is never
    * rescanned per delivery. */
  def crossSemProbe(candidates: DataFrame, reference: DataFrame,
                    k: Int = KmeansK, iters: Int = KmeansIters,
                    tau: Double = SemDedupTau): DataFrame = {
    val (refEmb, cents) = kmeansFit(reference, k, iters)
    val refA = kmeansAssigned(refEmb, cents)
      .select(col("cluster"), col("vec_id").as("ref_id"),
        col("embedding").as("_re"))
    semVerdict(assignCandidates(candidates, cents), refA, tau)
  }

  /** Candidate side of the probe: cleaned and assigned against the
    * FROZEN codebook — a pure stateless projection (literal centroids,
    * no join), so it runs unchanged on a stream. */
  private def assignCandidates(candidates: DataFrame,
                               cents: Array[(Long, Array[Double])]): DataFrame =
    kmeansAssigned(
        candidates.filter(col("embedding").isNotNull)
          .select(col("vec_id"), col("embedding")),
        cents)
      .select(col("vec_id").as("cand_id"), col("cluster"),
        col("embedding").as("_ce"))

  /** The per-candidate verdict over (cand, cluster) x (cluster, ref)
    * rows: LEFT join keeps candidates whose cluster holds no accepted
    * reference (keep = 1), the accept is the single round-6 cosine, and
    * best-match is the x78 struct-argmax (max sim, ties to the SMALLER
    * ref_id). Shared verbatim by the in-run fit ([[crossSemProbe]]), the
    * persisted-index probe ([[semProbeAgainst]]) and the streaming face
    * — the three cannot drift. */
  private def semVerdict(candA: DataFrame, refA: DataFrame,
                         tau: Double): DataFrame = {
    val scored = candA.join(refA, Seq("cluster"), "left")
      .select(col("cand_id"), col("cluster"), col("ref_id"),
        round(cosine(col("_ce"), col("_re")), 6).as("_sim"))
    val hit = col("_sim").isNotNull && col("_sim") >= tau
    scored
      .groupBy(col("cand_id"), col("cluster"))
      .agg(
        sum(when(hit, 1L).otherwise(0L)).as("n_dups"),
        max(when(hit, struct(
          col("_sim").cast("decimal(18,6)").as("sim"),
          (-col("ref_id")).as("negid")))).as("_b"))
      .select(col("cand_id"), col("cluster"), col("n_dups"),
        when(col("n_dups") === 0L, 1L).otherwise(0L).as("keep"),
        (-col("_b.negid")).cast("long").as("best_ref_id"),
        col("_b.sim").cast("double").as("best_cos"))
  }

  /** The x170 queries() face: even vec_ids are the frozen reference,
    * odd the arriving delivery (deterministic, twin-rebuildable — the
    * x106 split discipline). Natural cross pairs clear tau at every SF
    * (the corpus's label structure puts same-label vectors above the
    * x45 near-dup cut). */
  def crossSemProbeQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val isRef = col("vec_id") % 2 === 0
    crossSemProbe(emb.filter(!isRef), emb.filter(isRef))
      .orderBy(col("cand_id"))
  }

  /** Persist the frozen reference side of [[crossSemProbe]], in
    * [[graft.core.DeltaIndex]] generation-manifest layout:
    *
    *   - `codebook` — the k x d exact-decimal-sum centroids as (cid,
    *     cv DOUBLE[]) rows (KBs, driver-resident on load); FROZEN
    *     across appends (refitting is a scheduled rebuild, gated by
    *     [[semIndexDriftCheck]]);
    *   - `lists` — the assigned reference vectors, partitioned by
    *     cluster inside each generation dir, so a probe that touches
    *     few clusters prunes its read across every generation;
    *   - `ids` — per-vector (cluster, ref_id) METADATA, the rows the
    *     double-ingest guard and the drift check read so maintenance
    *     never opens an embedding list file.
    *
    * A build over an existing index commits the next generation and
    * keeps the one it supersedes (a composite artifact — the
    * acceptance battery — may still pin it until its own commit
    * lands); appends commit new generations by one manifest rename.
    * Returns the committed generation number. */
  def saveSemRefIndex(reference: DataFrame, path: String,
                      k: Int = KmeansK, iters: Int = KmeansIters): Long = {
    import graft.core.DeltaIndex
    val spark = reference.sparkSession
    val (refEmb, cents) = kmeansFit(reference, k, iters)
    val gen = DeltaIndex.latestOpt(spark, path).fold(0L)(_.gen + 1)
    val cbDir = writeSemCodebook(spark, path, gen, cents)
    val (listsDir, idsDir) = writeSemDelta(spark, path,
      DeltaIndex.deltaDir("lists", gen), DeltaIndex.deltaDir("ids", gen),
      kmeansAssigned(refEmb, cents)
        .select(col("cluster"), col("vec_id").as("ref_id"), col("embedding")),
      cents.length)
    DeltaIndex.commit(spark, path, DeltaIndex.Manifest(gen,
      Map("k" -> k.toString),
      Map("codebook" -> Vector(cbDir), "lists" -> Vector(listsDir),
        "ids" -> Vector(idsDir))))
    DeltaIndex.vacuum(spark, path, keepGenerations = 2)
    gen
  }

  private def writeSemCodebook(spark: SparkSession, root: String, gen: Long,
                               cents: Array[(Long, Array[Double])]): String = {
    import spark.implicits._
    val dir = graft.core.DeltaIndex.deltaDir("codebook", gen)
    cents.toIndexedSeq.map { case (cid, cv) => (cid, cv.toSeq: Seq[Double]) }
      .toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/$dir")
    dir
  }

  /** Write one generation's `lists` + `ids` data dirs: the assigned
    * vectors cluster-partitioned (one file per NON-EMPTY cluster, not
    * tasks x clusters), and the (cluster, ref_id) metadata derived by
    * re-reading the just-written delta files — the input is scanned
    * once, and only THIS generation's files are touched. The dir names
    * are unique per attempt ([[graft.core.DeltaIndex.deltaDir]]), so a
    * lost commit race never touches a committed dir. */
  private def writeSemDelta(spark: SparkSession, root: String,
                            listsDir: String, idsDir: String,
                            assigned: DataFrame, k: Int): (String, String) = {
    assigned
      .repartition(k, col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$root/$listsDir")
    spark.read.parquet(s"$root/$listsDir")
      .select(col("cluster").cast("long").as("cluster"), col("ref_id"))
      .write.mode("overwrite").parquet(s"$root/$idsDir")
    (listsDir, idsDir)
  }

  /** The driver-resident k x d codebook of a pinned generation. */
  private[graft] def semCodebook(spark: SparkSession, root: String,
                                 m: graft.core.DeltaIndex.Manifest)
      : Array[(Long, Array[Double])] =
    graft.core.DeltaIndex.read(spark, root, m, "codebook")
      .select(col("cid").cast("long"), col("cv"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)

  /** INDEX MAINTENANCE (x175's semantic sibling): fold an ADMITTED
    * delivery's vectors into a [[saveSemRefIndex]] artifact — assign
    * them with the FROZEN codebook and commit a new generation holding
    * ONLY the delivery's list/ids delta dirs plus one manifest rename
    * (O(delta) — never a lists rewrite, and no old list file is even
    * read: the double-ingest guard runs on the `ids` metadata part,
    * spec-gated by corrupting the old list files first). The codebook
    * never changes here (per-delivery refits would silently re-cluster
    * the whole reference; refitting is a scheduled REBUILD —
    * [[semIndexDriftCheck]] is the trigger). After the append, a later
    * delivery's paraphrase of an admitted document is flagged
    * (spec-asserted — the reason maintenance exists). Returns the
    * committed generation number. */
  def appendToSemRefIndex(admitted: DataFrame, indexPath: String): Long = {
    import graft.core.DeltaIndex
    val spark = admitted.sparkSession
    val m = DeltaIndex.latest(spark, indexPath)
    val cents = semCodebook(spark, indexPath, m)
    val delta = kmeansAssigned(
        admitted.filter(col("embedding").isNotNull)
          .select(col("vec_id"), col("embedding")),
        cents)
      .select(col("cluster"), col("vec_id").as("ref_id"), col("embedding"))
    // double-ingest guard (the appendToCrossProbeIndex discipline): a
    // replayed delivery would duplicate list entries and double-count
    // every n_dups verdict downstream — fail fast before any write.
    // Runs on the ids METADATA part; old embedding lists stay unread.
    val dup = delta.select(col("ref_id"))
      .join(DeltaIndex.read(spark, indexPath, m, "ids").select(col("ref_id")),
        Seq("ref_id"), "left_semi")
      .limit(1).count()
    require(dup == 0L,
      s"appendToSemRefIndex: delivery contains vec_ids already in $indexPath " +
        "(double-ingest); re-delivery requires a rebuild, not an append")
    // an all-null-embedding delivery (the gate legitimately admits such
    // docs) has NOTHING for the semantic tier: committing an empty
    // generation would write a lists dir with no parquet files, whose
    // schema-less re-read (here and in every later probe) throws — the
    // battery keeps its current pin instead (ADVICE r18)
    if (delta.limit(1).count() == 0L) return m.gen
    val gen = m.gen + 1
    val (listsDir, idsDir) = writeSemDelta(spark, indexPath,
      DeltaIndex.deltaDir("lists", gen), DeltaIndex.deltaDir("ids", gen),
      delta, cents.length)
    DeltaIndex.commit(spark, indexPath, DeltaIndex.Manifest(gen, m.params,
      m.parts + ("lists" -> (m.dirs("lists") :+ listsDir)) +
        ("ids" -> (m.dirs("ids") :+ idsDir))))
    gen
  }

  /** Probe a [[saveSemRefIndex]] artifact: the codebook collects back to
    * the driver (k x d — KBs), candidate assignment compiles it into the
    * same stateless literal-centroid map, and the verdict joins the
    * partition-pruned lists relation — the reference corpus itself is
    * never rescanned (plan-gated: every file read is under the index
    * root). Result-identical to [[crossSemProbe]] on the same reference
    * (spec-asserted); stream-safe (one stream-static left join + one
    * update-mode aggregate — the leakageProbeStream shape). */
  def semProbeAgainst(candidates: DataFrame, indexPath: String,
                      tau: Double = SemDedupTau): DataFrame = {
    val spark = candidates.sparkSession
    semProbePinned(candidates, indexPath,
      graft.core.DeltaIndex.latest(spark, indexPath), tau)
  }

  /** [[semProbeAgainst]] at a PINNED generation — the acceptance
    * battery resolves its semantic generation from its own manifest so
    * all tiers score against one snapshot. */
  private[graft] def semProbePinned(candidates: DataFrame, root: String,
                                    m: graft.core.DeltaIndex.Manifest,
                                    tau: Double): DataFrame = {
    val spark = candidates.sparkSession
    val cents = semCodebook(spark, root, m)
    val candA = assignCandidates(candidates, cents)
    val lists = graft.core.DeltaIndex.read(spark, root, m, "lists")
    semVerdict(candA, prunedLists(candidates, candA, lists), tau)
  }

  /** STATIC cluster pruning for a BATCH probe: the candidates' probed
    * clusters collect to the driver (bounded by k — the assignment's
    * whole codomain) and become a partition filter on the
    * cluster-partitioned lists, so a small delivery reads only the list
    * partitions it probes instead of joining the full index (the
    * ivfTopKPruned discipline; at 100 TB this is the difference between
    * a delivery-sized read and an index-sized one). Streaming
    * candidates skip the collect (illegal on a stream) and keep the
    * stream-static join over all partitions — the foreachBatch faces
    * pass per-batch BATCH frames, so the production gate prunes too. */
  private def prunedLists(candidates: DataFrame, candA: DataFrame,
                          lists: DataFrame): DataFrame = {
    val typed = lists.select(col("cluster").cast("long").as("cluster"),
      col("ref_id"), col("embedding").as("_re"))
    if (candidates.isStreaming) typed
    else {
      val probed = candA.select(col("cluster")).distinct()
        .collect().map(_.getLong(0))
      if (probed.isEmpty) typed.filter(lit(false))
      // the filter lands on the PARTITION column before the cast, so the
      // scan's partition filters prune at file-listing time
      else typed.filter(col("cluster")
        .isin(probed.toIndexedSeq.map(Long.box): _*))
    }
  }

  // ------------- semantic-index drift check (x178) --------------------

  /** PSI at or above this on the cluster-occupancy histogram flags the
    * frozen codebook for rebuild (the standard "major population
    * shift" rule-of-thumb; compared against the round-6 PSI image, so
    * the verdict is cross-engine exact). */
  val SemDriftThreshold = 0.2

  /** x178: SEMANTIC-INDEX DRIFT CHECK — the rebuild trigger
    * [[appendToSemRefIndex]]'s frozen-codebook discipline defers to.
    * A codebook fit on last quarter's reference clusters last quarter's
    * MEANING; when the incoming distribution moves (new domain, new
    * language mix), vectors pile into few clusters, the per-cluster
    * exact scan degrades toward a full scan, and the within-cluster
    * probe starts missing cross-cluster paraphrases. This detects that
    * as a Population Stability Index (x128/x130's discipline) over the
    * k cluster-assignment bins: reference occupancy (from the index)
    * vs a RECENT sample assigned under the SAME frozen codebook.
    *
    * Per cluster: Laplace-smoothed shares
    * `share = (n + 1) / (N + k)` rounded at 6, the PSI term
    * `round((recent_share − ref_share) · round(ln(recent/ref), 6), 6)`
    * (the x82 pinned-ln discipline — every inexact step is a round-6
    * image, so both engines land identical doubles), plus the total
    * `psi` (exact DECIMAL sum of the round-6 terms, rounded once) and
    * the `rebuild` verdict (psi >= threshold) repeated on each row
    * (the established 1-row-total cross-join pattern; the join is k
    * rows x 1).
    *
    * Scale shape: ONE pass over the recent sample (stateless literal-
    * centroid assignment + hash agg on k keys); the reference side is
    * k pre-counted rows. */
  def semDriftAgainst(recent: DataFrame, cents: Array[(Long, Array[Double])],
                      refCounts: DataFrame,
                      threshold: Double = SemDriftThreshold): DataFrame = {
    val spark = recent.sparkSession
    import spark.implicits._
    val k = cents.length
    require(k > 0, "semDriftAgainst: empty codebook")
    val recCounts = recentCounts(recent, cents)
    // every codebook cluster appears, even when empty on either side —
    // Laplace smoothing is only well-defined over the full support
    val counts = cents.map(_._1).toSeq.toDF("cluster")
      .join(refCounts, Seq("cluster"), "left")
      .join(recCounts, Seq("cluster"), "left")
      .select(col("cluster"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_recent"), lit(0L)).as("n_recent"))
    val tot = counts.agg(sum(col("n_ref")).as("_tr"),
      sum(col("n_recent")).as("_tc"))
    val per = counts.crossJoin(tot)
      .select(col("cluster"), col("n_ref"), col("n_recent"),
        round((col("n_ref") + 1L).cast("double") /
          (col("_tr") + k).cast("double"), 6).as("ref_share"),
        round((col("n_recent") + 1L).cast("double") /
          (col("_tc") + k).cast("double"), 6).as("recent_share"))
      .withColumn("psi_term",
        round((col("recent_share") - col("ref_share")) *
          round(log(col("recent_share") / col("ref_share")), 6), 6))
    val psi = per.agg(
      round(sum(col("psi_term").cast("decimal(18,6)")).cast("double"), 6)
        .as("psi"))
    per.crossJoin(psi)
      .select(col("cluster"), col("n_ref"), col("n_recent"),
        col("ref_share"), col("recent_share"), col("psi_term"), col("psi"),
        when(col("psi") >= threshold, 1L).otherwise(0L).as("rebuild"))
  }

  /** The recent-side occupancy histogram (k rows) — the ONE
    * incremental aggregate inside the drift check: stateless
    * literal-centroid assignment + a grouped count, so it runs
    * unchanged on a stream (the x177 calibrationStream discipline —
    * the PSI/verdict summary is a second aggregation layer and stays a
    * batch-side read of this table). */
  private def recentCounts(recent: DataFrame,
                           cents: Array[(Long, Array[Double])]): DataFrame =
    kmeansAssigned(
        recent.filter(col("embedding").isNotNull)
          .select(col("vec_id"), col("embedding")),
        cents)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_recent"))

  /** [[recentCounts]] under a persisted index's frozen codebook — the
    * streaming drift monitor's body
    * ([[graft.streaming.StreamingOps.semDriftStream]]). */
  def semRecentCounts(recent: DataFrame, indexPath: String): DataFrame = {
    val spark = recent.sparkSession
    recentCounts(recent, semCodebook(spark, indexPath,
      graft.core.DeltaIndex.latest(spark, indexPath)))
  }

  /** [[semDriftAgainst]] over a [[saveSemRefIndex]] artifact — the
    * production face of the scheduled-rebuild decision. Reads ONLY the
    * KB codebook and the per-vector `ids` metadata part (never an
    * embedding list file — spec-gated), so the check costs one recent-
    * sample scan regardless of index size. */
  def semIndexDriftCheck(recent: DataFrame, indexPath: String,
                         threshold: Double = SemDriftThreshold): DataFrame = {
    import graft.core.DeltaIndex
    val spark = recent.sparkSession
    val m = DeltaIndex.latest(spark, indexPath)
    val refCounts = DeltaIndex.read(spark, indexPath, m, "ids")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_ref"))
    semDriftAgainst(recent, semCodebook(spark, indexPath, m), refCounts,
      threshold)
  }

  /** The x178 queries() face: the x170 split — even vec_ids are the
    * indexed reference whose fit froze the codebook, odd vec_ids the
    * recent sample — checked for assignment drift. The two halves
    * draw from one distribution, so this is the no-drift baseline the
    * planted-drift spec contrasts. */
  def semDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val isRef = col("vec_id") % 2 === 0
    val (refEmb, cents) = kmeansFit(emb.filter(isRef), KmeansK, KmeansIters)
    val refCounts = kmeansAssigned(refEmb, cents)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_ref"))
    semDriftAgainst(emb.filter(!isRef), cents, refCounts)
      .orderBy(col("cluster"))
  }

  /** SCHEDULED REBUILD — what [[semIndexDriftCheck]]'s `rebuild`
    * verdict triggers: refit the codebook over everything the index
    * now holds (original reference + every appended delivery, read
    * from the index's own lists — the source corpora are gone) and
    * build the next generation from it ([[saveSemRefIndex]]). Reading
    * the full lists once is the DECLARED cost of a rebuild; `k` may be
    * raised when the drift means new mass needs its own cluster(s).
    * The old lists stay on disk until the new generation has
    * committed, so the lazy reads feeding the refit never lose their
    * files. Returns the committed generation number.
    *
    * Why this matters: appends freeze the codebook, so a new data
    * direction piles into whichever old cluster is least wrong —
    * rank-1 probes then miss paraphrases across that crowded boundary
    * (spec plants exactly this and shows the rebuild recovers it). */
  def rebuildSemRefIndex(spark: SparkSession, indexPath: String,
                         k: Int = KmeansK, iters: Int = KmeansIters): Long = {
    import graft.core.DeltaIndex
    val m = DeltaIndex.latest(spark, indexPath)
    saveSemRefIndex(DeltaIndex.read(spark, indexPath, m, "lists")
        .select(col("ref_id").as("vec_id"), col("embedding")),
      indexPath, k, iters)
  }

  // ------------- budgeted multi-cluster semantic probe (x180) --------

  /** Default probe budget of the x180 face: rank-1 assignment plus one
    * runner-up cluster. */
  val SemProbeNProbe = 2

  /** Candidate side of the BUDGETED probe: each candidate explodes to
    * its top-`nProbe` clusters under the frozen codebook (rank 0 = the
    * rank-1 assignment [[assignCandidates]] would make), still a pure
    * stateless literal-centroid projection. */
  private def assignCandidatesMulti(candidates: DataFrame,
                                    cents: Array[(Long, Array[Double])],
                                    nProbe: Int): DataFrame =
    candidates.filter(col("embedding").isNotNull)
      .select(col("vec_id").as("cand_id"), col("embedding").as("_ce"),
        posexplode(kmTopN(cents, col("embedding"), nProbe)))
      .select(col("cand_id"), col("_ce"), col("pos").as("_rank"),
        (-col("col.negid")).as("cluster"))

  /** The per-candidate verdict over ALL probed clusters: same accept
    * test and best-match argmax as [[semVerdict]], aggregated at
    * candidate grain; the reported `cluster` is the rank-1 assignment
    * (so an nProbe=1 run is column-identical to [[semVerdict]] —
    * spec-asserted). Each reference lives in exactly one cluster and
    * probed clusters are distinct per candidate, so no (cand, ref)
    * pair can double-count. */
  private def semVerdictMulti(candM: DataFrame, refA: DataFrame,
                              tau: Double): DataFrame = {
    val scored = candM.join(refA, Seq("cluster"), "left")
      .select(col("cand_id"), col("_rank"), col("cluster"), col("ref_id"),
        round(cosine(col("_ce"), col("_re")), 6).as("_sim"))
    val hit = col("_sim").isNotNull && col("_sim") >= tau
    scored
      .groupBy(col("cand_id"))
      .agg(
        min(when(col("_rank") === 0, col("cluster"))).as("cluster"),
        sum(when(hit, 1L).otherwise(0L)).as("n_dups"),
        max(when(hit, struct(
          col("_sim").cast("decimal(18,6)").as("sim"),
          (-col("ref_id")).as("negid")))).as("_b"))
      .select(col("cand_id"), col("cluster"), col("n_dups"),
        when(col("n_dups") === 0L, 1L).otherwise(0L).as("keep"),
        (-col("_b.negid")).cast("long").as("best_ref_id"),
        col("_b.sim").cast("double").as("best_cos"))
  }

  /** x180: the BUDGETED form of the x170 semantic probe —
    * [[semProbeAgainst]] widened to the candidate's top-`nProbe`
    * clusters. The rank-1 probe is exact WITHIN a cluster but blind
    * across the boundary: a paraphrase sitting just across its
    * reference's Voronoi edge is structurally missed (the spec plants
    * one). Probing the runner-up cluster(s) buys that recall back at a
    * bounded cost multiplier — per candidate the scan is `nProbe`
    * partition-pruned list reads instead of one, still never a
    * cross-product, and the knob is per-query (hot deliveries can run
    * nProbe=1, audits nProbe=2+ — the IVF nProbe discipline against
    * the SAME index artifact). */
  def semProbeBudget(candidates: DataFrame, indexPath: String,
                     nProbe: Int = SemProbeNProbe,
                     tau: Double = SemDedupTau): DataFrame = {
    require(nProbe >= 1, s"semProbeBudget: nProbe=$nProbe")
    val spark = candidates.sparkSession
    val m = graft.core.DeltaIndex.latest(spark, indexPath)
    val cents = semCodebook(spark, indexPath, m)
    val candM = assignCandidatesMulti(candidates, cents, nProbe)
    val lists = graft.core.DeltaIndex.read(spark, indexPath, m, "lists")
    semVerdictMulti(candM, prunedLists(candidates, candM, lists), tau)
  }

  /** The x180 queries() face: the x170 split (even reference / odd
    * delivery) probed at the default budget — in-run fit so the face
    * is twin-rebuildable; the disk path is [[semProbeBudget]]
    * (spec-asserted equal). */
  def crossSemProbeBudgetQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val isRef = col("vec_id") % 2 === 0
    val (refEmb, cents) = kmeansFit(emb.filter(isRef), KmeansK, KmeansIters)
    val refA = kmeansAssigned(refEmb, cents)
      .select(col("cluster"), col("vec_id").as("ref_id"),
        col("embedding").as("_re"))
    semVerdictMulti(
        assignCandidatesMulti(emb.filter(!isRef), cents, SemProbeNProbe),
        refA, SemDedupTau)
      .orderBy(col("cand_id"))
  }
}
