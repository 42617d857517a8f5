package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{IterUtil, Tables}

/** Iterative graph analytics over (src, dst) edge lists — the step past
  * [[Dedup.connectedComponents]]'s membership labeling: PageRank scores
  * HOW CENTRAL each document is inside its near-dup neighborhood (a
  * high-rank member of a dup cluster is the one most others resemble — a
  * canonical-selection signal complementary to x31's quality score).
  *
  * Scale shape mirrors connectedComponents: each iteration is two
  * equi-joins plus one aggregate, all keyed on vertex id (uniform keys);
  * every round is lineage-cut (constant plan size) and the previous
  * round's blocks are freed, so the loop holds at most two rounds of
  * state. Pass `checkpointDir` on real clusters for executor-loss
  * durability (same contract as connectedComponents).
  *
  * Determinism: ranks are FIXED-POINT LONGS — mass in units of 10^-15 of
  * the total — and every operation in the loop is integer multiply,
  * truncating divide, or exact BIGINT sum. There is no floating-point op
  * anywhere between initialization and the final display cast, so the
  * result is bit-identical across partitionings, engines, and runs by
  * construction (x39 hash-checks against an unrolled-SQL DuckDB oracle
  * with zero tolerance). The decimal/double formulation was measured to
  * drift 1-4 units in the 14th digit cross-engine (DuckDB's
  * double→decimal cast double-rounds); integers close that door. Each
  * truncating divide loses < 10^-15 of mass — after k iterations ranks
  * sit within k*V*10^-15 of real-valued PageRank, far below any use's
  * noise floor. A narrower BIGINT also beats a 16-byte decimal for
  * shuffle width at 100 TB.
  */
object Graph {

  /** Fixed-point resolution: one rank unit = 10^-15 of total mass.
    * Headroom: damping numerators stay < 100 * 10^15 < 2^63. */
  val RankUnits: Long = 1000000000000000L

  /** x39's shared constants (Spark face + DuckDB oracle). Damping is a
    * PERCENT so the blend stays in integer arithmetic. */
  private[graft] val PageRankIters: Int = 5
  private[graft] val PageRankDampingPct: Int = 85

  /** Fixed-iteration damped PageRank on an UNDIRECTED graph.
    *
    * `vertices` is a single-column `id` frame; `edges` holds unique
    * undirected pairs (src, dst), src != dst, both endpoints in
    * `vertices` (duplicate pairs would double-count contributions —
    * [[Dedup.ngramCandidatePairs]] guarantees uniqueness; pass arbitrary
    * edge lists through `.distinct()` first). Each edge is expanded into
    * both directions, so degree = neighbor count.
    *
    * Per iteration, with N = |vertices|, d = dampingPct, U = RankUnits,
    * and all divisions truncating:
    *
    *   rank'(v) = ((100-d) * (U div N)) div 100
    *            + (d * (danglingMass div N + Σ_{u→v} rank(u) div deg(u))) div 100
    *
    * where danglingMass is the summed rank of isolated vertices (no
    * edges — in an undirected graph the only dangling kind).
    *
    * The vertex count N and nothing else is collected to the driver (one
    * cheap job, same budget class as connectedComponents' convergence
    * counts); the dangling mass stays in-plan as a broadcast 1-row
    * cross join. */
  /** How many unrolled iterations may stack before a lineage cut. The
    * loop emits ONE dataflow plan (no per-round materialization) up to
    * this depth; past it a cut bounds plan size / lineage for callers
    * that ask for long fixed-point runs. The default 5-iteration x39
    * face stays a single plan.
    */
  private val UnrollCutEvery = 8

  def pageRank(vertices: DataFrame, edges: DataFrame,
               iters: Int = PageRankIters,
               dampingPct: Int = PageRankDampingPct,
               checkpointDir: Option[String] = None): DataFrame = {
    require(iters > 0, s"pageRank: iters=$iters")
    require(dampingPct > 0 && dampingPct < 100, s"pageRank: dampingPct=$dampingPct")
    val spark = vertices.sparkSession
    IterUtil.ensureCheckpointDir(spark, checkpointDir)
    def cut(df: DataFrame): DataFrame = IterUtil.cut(df, checkpointDir.isDefined)
    val p = spark.sessionState.conf.numShufflePartitions

    // The iteration state is restricted to vertices INCIDENT TO AN EDGE
    // (the connectedComponents discipline): in a near-dup graph the
    // singleton majority receives no messages and every isolated vertex
    // evolves by the same closed-form recurrence, so it never has to
    // enter a shuffle. The edge frame carries the source's degree and is
    // PINNED to hash(src, p) once — explicit repartition, not
    // ENSURE_REQUIREMENTS, so AQE cannot re-key it — and every round's
    // rank join aligns with it exchange-free. Per iteration exactly ONE
    // exchange survives (the message aggregation, pinned to hash(dst, p)
    // so its output co-partitions with the rank state for the next
    // round); the dangling mass is a driver-side Long recurrence instead
    // of a per-round aggregate + broadcast cross join. The whole
    // fixed-iteration loop is ONE dataflow plan — no per-round
    // checkpoint materialization jobs (a cut every [[UnrollCutEvery]]
    // rounds bounds plan depth for long runs; the default 5 stays
    // uncut).
    // The static frames persist through the bounded registry, NOT a
    // lineage cut: a checkpoint's ExistingRDD scan reports
    // UnknownPartitioning under AQE (measured — every loop reference
    // then re-exchanges), while InMemoryRelation preserves the cached
    // plan's pinned partitioning, which is the whole point here. On the
    // reliable-checkpoint path durability wins and the cut stays.
    def pinStatic(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) cut(df) else graft.core.Caches.bounded(df)
    // the (possibly expensive) edge plan is computed exactly ONCE: deg
    // and bidirDeg both derive from this cache, exchange-free (their
    // grouping/join keys match the pinned partitioning)
    val bidir = pinStatic(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(p, col("src")))
    val deg = bidir.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("deg"))
    val bidirDeg = pinStatic(bidir.join(deg, col("src") === col("vid"))
      .select(col("src"), col("dst"), col("deg")))
    // non-isolated vertex list, co-partitioned with bidirDeg (hash(vid,p))
    val nonIso = pinStatic(deg.select(col("vid").as("id")))

    val n = vertices.count()
    require(n > 0, "pageRank: empty vertex set")
    val nNonIso = nonIso.count()
    val nIso = n - nNonIso
    val unit = RankUnits / n
    val base = ((100L - dampingPct) * unit) / 100L

    // Driver-side recurrence for the isolated ranks: every isolated
    // vertex starts at `unit` and receives no messages, so all stay
    // EQUAL and the dangling mass each round is exactly nIso * isoRank —
    // the same Long arithmetic the in-plan aggregate performed, now two
    // scalars per round. isoRank(t+1) = base + (d * (ds div n)) div 100.
    val isoRanks = new Array[Long](iters + 1)
    isoRanks(0) = unit
    for (t <- 0 until iters)
      isoRanks(t + 1) =
        base + (dampingPct * ((nIso * isoRanks(t)) / n)) / 100L

    var ranks = nonIso.select(col("id"), lit(unit).as("rank"))
    for (t <- 0 until iters) {
      val dsOverN = (nIso * isoRanks(t)) / n
      // the aggregation keeps its map-side partial sum below its own
      // exchange; the exchange's hash(mid, p) output already satisfies
      // the rank join's distribution, so each iteration's ONLY shuffle
      // carries per-(partition, dst) partial sums
      val msgs = bidirDeg.join(ranks, col("src") === col("id"))
        .select(col("dst").as("mid"), expr("rank div deg").as("c"))
        .groupBy(col("mid")).agg(sum(col("c")).as("msg"))
      ranks = nonIso
        .join(msgs, col("id") === col("mid"), "left")
        .select(col("id"), expr(
          s"$base + (($dampingPct * ($dsOverN + coalesce(msg, 0L))) div 100)")
          .as("rank"))
      if ((t + 1) % UnrollCutEvery == 0 && t + 1 < iters)
        ranks = cut(ranks)
    }
    // isolated vertices re-enter with the closed-form final rank; the
    // left join keeps every vertex exactly once (loop ranks cover the
    // non-isolated set by construction).
    val out = vertices.select(col("id"))
      .join(ranks.withColumnRenamed("rank", "_lr"), Seq("id"), "left")
      .select(col("id"), coalesce(col("_lr"), lit(isoRanks(iters))).as("rank"))
    // display image: rank units → fraction of total mass. Both factors
    // are < 2^53 so the long→double cast is exact and the single
    // division correctly rounded — identical in the DuckDB oracle.
    out.select(col("id"),
      (col("rank").cast("double") / lit(RankUnits.toDouble)).as("rank"))
  }

  /** x39: PageRank over the x03 near-dup candidate graph — doc centrality
    * within dup neighborhoods; isolated docs settle at the dangling-fed
    * floor. Oracle: the same five iterations unrolled as chained SQL
    * CTEs over the same edge CTE as x14/x31. */
  def pageRankQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val edges = Dedup.ngramCandidatePairs(docs)
      .select(col("d1").as("src"), col("d2").as("dst"))
    pageRank(docs.select(col("doc_id").as("id")), edges)
      .select(col("id").as("doc_id"), col("rank"))
      .orderBy(col("doc_id"))
  }
}
