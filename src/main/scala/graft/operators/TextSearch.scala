package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Distributed BM25 full-text search: score a set of keyword queries
  * against the corpus and return the top-k documents per query — the
  * retrieval operator of a training-data / RAG pipeline.
  *
  * Scale shape: two passes over the corpus, both narrow. Pass 1 is the
  * scalar stats agg (doc count, average length — no shuffle, the result
  * broadcasts). Pass 2 explodes tokens but filters to the QUERY TERMS
  * before the one corpus-sized shuffle — postings are built only for
  * terms someone asked about, so aggregate state is |matching docs| x
  * |query terms|, not the corpus vocabulary — and the doc length rides
  * along with each token, so postings never join back to the corpus.
  * Document frequencies are a window count over the postings' term
  * partitions (bounded by matching docs, spill-safe), queries broadcast,
  * and the final top-k is a per-query window that Spark executes with
  * WindowGroupLimit pushdown (partial top-k before the shuffle).
  *
  * Determinism: each per-term contribution is rounded to 6 decimals and
  * cast to DECIMAL(18,6), so the per-doc score is an exact decimal sum —
  * order-independent and engine-independent. The only transcendental is
  * `ln` in the idf, whose <=1-ulp cross-engine wobble is absorbed by the
  * rounding (a flip needs a contribution within ~1e-15 of a 5e-7
  * boundary). All scoring constants are interpolated into the oracle SQL
  * from the SAME Scala values, so both engines parse identical literals.
  */
object TextSearch {

  val DefaultK1 = 1.2
  val DefaultB = 0.75

  /** Lucene-style BM25 idf: ln(1 + (N - df + 0.5) / (df + 0.5)). */
  private def idf(nDocs: Column, df: Column): Column =
    log(lit(1) + (nDocs - df + lit(0.5)) / (df + lit(0.5)))

  /** Top-k docs per query under BM25. `queries` are (query_id,
    * whitespace-separated terms); output (query_id, doc_id, score, rank)
    * with rank 1..k by (score desc, doc_id). */
  def bm25TopK(docs: DataFrame, queries: Seq[(Int, String)], k: Int = 10,
               k1: Double = DefaultK1, b: Double = DefaultB): DataFrame = {
    require(queries.nonEmpty, "bm25TopK: no queries")
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries
      .flatMap { case (qid, text) =>
        text.split(" ").filter(_.nonEmpty).distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val termSet = queries.flatMap(_._2.split(" ").filter(_.nonEmpty)).distinct

    val base = docs.select(col("doc_id"),
      TextAnalysis.wsTokens(col("text")).as("toks"))
    // scalar corpus stats (zero shuffle, result broadcasts); avgdl as one
    // explicit double division so both engines compute the identical IEEE
    // value
    val stats = base.agg(count(lit(1)).as("n_docs"),
      (sum(size(col("toks")).cast("long")).cast("double") / count(lit(1)))
        .as("avgdl"))
    // the doc length rides along with the exploded tokens, so postings
    // need no join back to a lengths table — and df is a count over the
    // postings' term partitions, not a re-derivation of the whole
    // subtree (Catalyst does not dedupe a twice-referenced aggregate;
    // measured: the join-back form re-scanned and re-shuffled the corpus)
    val postings = base
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(termSet: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))

    val contrib = postings
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        contribution(col("tf"), col("df"), col("dl"),
          col("n_docs"), col("avgdl"), k1, b).as("c"))
    val scored = contrib
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).cast("double").as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ---------------------------------------------- persistable index

  /** Partition count of the on-disk postings layout. */
  val IndexBuckets = 32

  /** Hash bucket a term's postings live in — the partition-pruning key
    * of the stored index. */
  private def termBucket(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong))

  /** Shared BM25 contribution (the x23 determinism discipline: rounded
    * to 6 decimals, DECIMAL(18,6)) — one definition for the scan path
    * and the index path so the two cannot drift. */
  private def contribution(tf: Column, df: Column, dl: Column,
                           nDocs: Column, avgdl: Column,
                           k1: Double, b: Double): Column =
    round(
      idf(nDocs, df) *
        (tf * lit(k1 + 1)) /
        (tf + lit(k1) * (lit(1) - lit(b) + lit(b) * dl / avgdl)),
      6).cast("decimal(18,6)")

  /** Build the FULL inverted index once and persist it: `postings`
    * holds (doc_id, term, tf, dl, df) partitioned by a term hash bucket,
    * `stats` the one-row corpus stats. The pair publishes as one
    * generation ([[graft.core.DeltaIndex.publish]]): a failure between
    * the two writes leaves the previous index current, never new
    * postings scored against stale `n_docs`/`avgdl`. The build is the x23 plan
    * without the query-term filter (df precomputed, so query time never
    * windows); the bucket layout is the scale lever — a query touches
    * only the partitions its terms hash into (static partition pruning,
    * spec-asserted), so query cost is proportional to matching postings,
    * not corpus size. Build once per corpus snapshot, query forever. */
  def saveIndex(docs: DataFrame, path: String,
                nBuckets: Int = IndexBuckets): Unit = {
    val base = docs.select(col("doc_id"),
      TextAnalysis.wsTokens(col("text")).as("toks"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      (sum(size(col("toks")).cast("long")).cast("double") / count(lit(1)))
        .as("avgdl"))
    val postings = base
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("term_bucket", termBucket(col("term"), nBuckets))
    graft.core.DeltaIndex.publish(docs.sparkSession, path) { dir =>
      postings
        // co-locate each bucket before the write: one writer task per
        // bucket -> nBuckets files, not tasks x buckets small files
        .repartition(nBuckets, col("term_bucket"))
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(s"$dir/postings")
      stats.write.mode("overwrite").parquet(s"$dir/stats")
    }
  }

  /** Top-k per query over a [[saveIndex]]-built index. Result-identical
    * to [[bm25TopK]] on the source corpus (spec-asserted cell-exact):
    * same contribution, same decimal sum, same tie order — but the scan
    * reads only the query terms' hash-bucket partitions. */
  def bm25TopKIndexed(spark: SparkSession, path: String,
                      queries: Seq[(Int, String)], k: Int = 10,
                      k1: Double = DefaultK1, b: Double = DefaultB,
                      nBuckets: Int = IndexBuckets): DataFrame = {
    require(queries.nonEmpty, "bm25TopKIndexed: no queries")
    import spark.implicits._
    val qterms = queries
      .flatMap { case (qid, text) =>
        text.split(" ").filter(_.nonEmpty).distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val termSet = queries.flatMap(_._2.split(" ").filter(_.nonEmpty)).distinct
    // driver-side twin of termBucket: xxhash64(term) is XXH64 over the
    // UTF8 bytes with Spark's fixed seed 42, so the bucket literals here
    // are exactly the partition values saveIndex wrote
    val buckets = termSet.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(t), 42L)
      ((h % nBuckets) + nBuckets) % nBuckets
    }.distinct
    val root = graft.core.DeltaIndex.current(spark, path)
    val postings = spark.read.parquet(s"$root/postings")
      // static partition pruning: term_bucket is a literal IN list the
      // scan resolves against directory names before reading any data
      .filter(col("term_bucket").isin(buckets: _*))
    val stats = spark.read.parquet(s"$root/stats")
    val contrib = postings
      .filter(col("term").isin(termSet: _*))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        contribution(col("tf"), col("df"), col("dl"),
          col("n_docs"), col("avgdl"), k1, b).as("c"))
    val scored = contrib
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).cast("double").as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Demo query set for [[bm25Query]] (x23), shared with the oracle
    * generator. */
  private[graft] val demoQueries: Seq[(Int, String)] = Seq(
    1 -> "spark hash join",
    2 -> "stream window agg",
    3 -> "sort merge table scan")

  /** x23: BM25 top-10 per demo query over the documents table. */
  def bm25Query(spark: SparkSession, dir: String): DataFrame =
    bm25TopK(Tables.load(spark, dir, "documents"), demoQueries)
      .orderBy(col("query_id"), col("rank"))

  // --------------------------------- hybrid retrieval fusion (x137)

  /** x137 constants, shared with the DuckDB twin. RrfK=60 is the
    * standard reciprocal-rank-fusion damping (Cormack et al.). */
  private[graft] val RrfK: Int = 60
  private[graft] val HybridLegK: Int = 20
  private[graft] val HybridTopK: Int = 10
  private[graft] val HybridQueryMax: Long = 10L

  /** x137: HYBRID RETRIEVAL FUSION — for each query document, a lexical
    * ranking (distinct 3-gram overlap) and a vector ranking (exact
    * cosine over the aligned embedding) fused by reciprocal-rank fusion:
    * score(d) = Σ_legs 1/(RrfK + rank_leg(d)), a leg a document missed
    * contributing 0. The RAG-era retrieval step sitting on top of the
    * x23/x05 primitives: lexical catches exact-term matches embeddings
    * smooth over, vectors catch paraphrases sharing no grams, and RRF
    * needs no score calibration between the two scales — rank is the
    * only currency.
    *
    * Determinism: both leg ranks are integers from total (signal desc,
    * doc_id) orders — the cosine quantized at 6 first (the x45/x73
    * argmax discipline); each RRF term is ONE correctly-rounded double
    * division pinned at 6 into DECIMAL(18,6) so the fused score is an
    * exact decimal sum; the final rank breaks score ties by doc_id.
    *
    * Scale shape: the lexical leg builds postings ONLY for query grams
    * (the x23 discipline — a semi-join prunes the corpus gram stream
    * before its one shuffle); the vector leg broadcasts the query set
    * (x05's shape; swap [[Similarity.ivfTopK]] for the probed form at
    * corpus scale — RRF consumes ranks, so the fusion is oblivious to
    * which leg implementation produced them); fusion itself is a
    * |queries × ≤2·legK|-row aggregate. */
  /** The x137 lexical leg: (query_id, doc_id, r) — distinct-3-gram
    * overlap ranked per query, postings pruned to query grams before
    * the one shuffle. */
  private[graft] def lexLeg(docs: DataFrame, queryMax: Long,
                            legK: Int): DataFrame = {
    val qg = docs.filter(col("doc_id") < queryMax)
      .select(col("doc_id").as("query_id"),
        explode(Dedup.wordShingles(col("text"), 3)).as("gram"))
    val dg = docs
      .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), 3)).as("gram"))
      .join(qg.select(col("gram")).distinct(), Seq("gram"), "left_semi")
    val wLex = Window.partitionBy(col("query_id"))
      .orderBy(col("inter").desc, col("doc_id"))
    qg.join(dg, Seq("gram"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("r", row_number().over(wLex))
      .filter(col("r") <= legK)
      .select(col("query_id"), col("doc_id"), col("r"))
  }

  /** RRF over any union of (query_id, doc_id, r) leg frames: each term
    * ONE correctly-rounded double division pinned at 6 into
    * DECIMAL(18,6) (exact decimal sum), final rank breaking score ties
    * by doc_id. Rank is the only currency — the fusion is oblivious to
    * which leg implementation produced the ranks, which is exactly what
    * lets [[hybridTopKIvf]] swap the exact vector leg for the probed
    * index without touching fusion semantics. */
  private[graft] def rrfFuse(legs: DataFrame, k: Int): DataFrame = {
    val wFused = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    legs
      .select(col("query_id"), col("doc_id"),
        round(lit(1.0) / (lit(RrfK) + col("r")).cast("double"), 6)
          .cast("decimal(18,6)").as("c"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).cast("double").as("score"))
      .withColumn("rank", row_number().over(wFused))
      .filter(col("rank") <= k)
  }

  def hybridTopK(docs: DataFrame, vectors: DataFrame,
                 queryMax: Long = HybridQueryMax, legK: Int = HybridLegK,
                 k: Int = HybridTopK): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val q = vectors.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val wVec = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id"))
    val vec = vectors.as("v")
      .join(broadcast(q), col("v.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("v.vec_id").as("doc_id"),
        round(cosine(col("qvec"), col("v.embedding")), 6).as("sim"))
      .withColumn("r", row_number().over(wVec))
      .filter(col("r") <= legK)
      .select(col("query_id"), col("doc_id"), col("r"))
    rrfFuse(lexLeg(docs, queryMax, legK).unionByName(vec), k)
  }

  /** [[hybridTopK]] with the CORPUS-SCALE vector leg: ranks from the
    * persisted, partition-pruned IVF index
    * ([[Similarity.ivfTopKIndexed]] — x06's scale path) instead of the
    * exact broadcast kNN. The documented composition cashed: RRF
    * consumes ranks, so fusion is leg-implementation-oblivious, and at
    * full probe (nProbe = nCentroids) the probed leg returns the exact
    * leg's candidate set — fused output identical to [[hybridTopK]]
    * up to sub-1e-6 cosine ties (spec-asserted on the fixture); at
    * partial probe the leg trades recall for reading only the probed
    * lists' files. The lexical leg and fusion are shared code paths
    * with the exact face, so the two forms cannot drift. */
  def hybridTopKIvf(docs: DataFrame, vectors: DataFrame, indexPath: String,
                    nProbe: Int, queryMax: Long = HybridQueryMax,
                    legK: Int = HybridLegK, k: Int = HybridTopK): DataFrame = {
    val spark = docs.sparkSession
    val q = vectors.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val vec = Similarity.ivfTopKIndexed(spark, indexPath, q, legK, nProbe)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("r"))
    rrfFuse(lexLeg(docs, queryMax, legK).unionByName(vec), k)
  }

  /** x137 queries() face: fuse over the aligned documents/embeddings
    * tables (vec_id ≡ doc_id in this corpus). */
  def hybridQuery(spark: SparkSession, dir: String): DataFrame =
    hybridTopK(Tables.load(spark, dir, "documents"),
        Tables.load(spark, dir, "embeddings"))
      .orderBy(col("query_id"), col("rank"))
}
