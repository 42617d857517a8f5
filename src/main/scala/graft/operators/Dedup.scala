package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Parallel, Tables}

/** Deduplication operators for a training-data pipeline, at three cost
  * tiers:
  *
  *   - exact:      one hash aggregation on the content key.
  *   - n-gram:     inverted-index (gram) join with document-frequency
  *                 pruning — the classic scalable near-dup candidate
  *                 generator (no cross join anywhere).
  *   - MinHash+LSH / SimHash: signature-based banding, where candidate
  *                 pairs come from equi-joins on (band, signature) buckets.
  *
  * Everything is built-in expressions (xxhash64, higher-order array fns,
  * hash-aggregations) — distributed, shuffle-only-on-buckets, no UDF.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup on text: one row per distinct content, keeper = min id.
    *
    * `hashContent = false` groups on the raw text — cross-engine exact,
    * the oracle face. `hashContent = true` is the 100 TB face: group on
    * (length, xxhash64, independently-seeded xxhash64) so the shuffle
    * carries ~20-byte keys instead of whole documents — the same trick
    * [[gramKey]] plays for grams. The 132-bit discriminator makes a
    * merged pair of distinct docs a ~n²/2¹³² event, immaterial next to
    * storage bit-error rates; output is identical modulo that. */
  def exactDedup(docs: DataFrame, hashContent: Boolean = false): DataFrame = {
    val key: Seq[Column] =
      if (hashContent)
        Seq(length(col("text")).as("_len"), xxhash64(col("text")).as("_h1"),
          xxhash64(lit(1), col("text")).as("_h2"))
      else Seq(col("text"))
    docs.groupBy(key: _*)
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
  }

  def exactDedupQuery(spark: SparkSession, dir: String): DataFrame =
    exactDedup(Tables.load(spark, dir, "documents")).orderBy(col("keep_id"))

  /** x44: the hashed-key form of x01 — same result, 8-byte-class shuffle
    * keys. Shares x01's oracle SQL verbatim (the outputs are defined to
    * coincide). */
  def exactDedupHashQuery(spark: SparkSession, dir: String): DataFrame =
    exactDedup(Tables.load(spark, dir, "documents"), hashContent = true)
      .orderBy(col("keep_id"))

  // -------------------------------------------------------- word shingles

  /** Distinct word n-grams per document — native single-pass expression
    * (see functions.expressions.WordShingles). */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.expressions.NativeExpressions.wordShingles(TextAnalysis.wsTokens(text), n)

  /** Built-ins-only twin (kept as the reference implementation; tokens
    * let-bound so split() runs once per row, not per gram — Spark's
    * sequence(a,b) runs DESCENDING when b < a, hence the guard). */
  def wordShinglesHof(text: Column, n: Int): Column =
    graft.functions.VectorFunctions.bindArray(TextAnalysis.wsTokens(text)) { toks =>
      val count = size(toks) - (n - 1)
      array_distinct(
        when(count >= 1,
          transform(sequence(lit(1), greatest(count, lit(1))),
            i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
          .otherwise(array().cast("array<string>")))
    }

  // ------------------------------------------- n-gram inverted-index join

  /** Shuffle key for a gram: the raw string (cross-engine exact, the
    * oracle face) or its xxhash64 (the 100 TB face — every downstream
    * aggregate and join then shuffles 8-byte longs instead of ~n-word
    * strings, shrinking gram-pipeline shuffle bytes several-fold). A
    * 64-bit collision can merge two distinct grams — odds ~n_grams²/2⁶⁵,
    * immaterial next to the candidate generator's own heuristics. */
  private[graft] def gramKey(gram: Column, hashGrams: Boolean): Column =
    if (hashGrams) xxhash64(gram) else gram

  /** Near-dup candidate pairs by shared *rare* n-grams, same-lang blocked.
    * Grams with document frequency > maxDf are dropped first: hot grams
    * add no discriminative signal but quadratic join fan-out — the pruning
    * is what keeps this plan alive at 100 TB. Output is exact integers
    * (pair intersection sizes), so it is oracle-checkable.
    *
    * @param hashGrams shuffle on xxhash64(gram) instead of the gram text
    *                  (identical output modulo 64-bit collisions). */
  def ngramCandidatePairs(docs: DataFrame, n: Int = 3, maxDf: Int = 20,
                          minInter: Int = 2, hashGrams: Boolean = false): DataFrame = {
    val grams = Parallel.fanOut(docs)
      .select(col("doc_id"), col("lang"),
        explode(wordShingles(col("text"), n)).as("g"))
      .select(col("doc_id"), col("lang"), gramKey(col("g"), hashGrams).as("gram"))
    // Round-20 A/B note: a window-count df prune (one explode, no join)
    // was measured family-wide — faster locally on x03/x144/x169 but it
    // shuffles the FULL unpruned occurrence stream (x03 shuffle bytes
    // 4.25 -> 9.48 MB) where this shape shuffles map-side-combined df
    // partials plus the pruned stream, it regressed the x14 closure
    // loop (2.38 -> 2.94 s), and a hot gram's every occurrence would
    // land on one window task where the partial aggregation absorbs it
    // here. Kept the aggregate+broadcast-prune shape (guide §2.3:
    // shuffle fewer bytes beats fewer passes).
    // (A bounded cache of the exploded gram stream was also A/B'd in
    // round 20: building the columnar cache cost more than re-running
    // the native explode on every family member — x03 1.91 -> 2.08 s.)
    val rare = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("gram")
    val rg = grams.join(rare, "gram")
    // Pairs come from WITHIN each gram's occurrence group, not from a
    // self-join: the old a(rg) JOIN b(rg) plan built the whole
    // scan -> shingle -> df-agg -> prune pipeline once per join side
    // (a broadcast build side is a separate physical subtree — never
    // exchange-reused) and re-shuffled the gram stream a third time on
    // (gram, lang). collect_list per gram is safe ONLY because the df
    // prune has already run — every group is <= maxDf structs (guide
    // §2.3/§2.4: fewer passes, fewer exchanges; the pair fan-out now
    // happens after the one aggregation instead of inside a join).
    // (A fused one-pass form — df count + capped occurrence list in a
    // single aggregate over the unpruned stream — was measured 15-40%
    // SLOWER at sf0.1 across the whole x03 consumer family: with a
    // corpus-cardinality group-by, the TypedImperativeAggregate falls
    // back to sort-based aggregation and sorts the full gram stream
    // per partition. Reverted; see OPTIMIZATION_r19.md.)
    val byGram = rg.groupBy(col("gram"))
      .agg(collect_list(struct(col("lang"), col("doc_id"))).as("_occ"))
    byGram
      .select(explode(col("_occ")).as("_a"), col("_occ"))
      .select(col("_a"), explode(col("_occ")).as("_b"))
      .filter(col("_a.lang") === col("_b.lang") &&
        col("_a.doc_id") < col("_b.doc_id"))
      .groupBy(col("_a.lang").as("lang"),
        col("_a.doc_id").as("d1"), col("_b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") >= minInter)
  }

  def ngramPairsQuery(spark: SparkSession, dir: String): DataFrame =
    ngramCandidatePairs(Tables.load(spark, dir, "documents"))
      .orderBy(col("lang"), col("d1"), col("d2"))

  /** x46: VERIFIED near-dup pairs — the accept/reject step a dedup
    * pipeline runs after candidate generation, with candidates from the
    * deterministic n-gram inverted index ([[ngramCandidatePairs]])
    * instead of LSH buckets, so the whole decision (not just the
    * candidate counts) is cross-engine checkable: for each candidate the
    * EXACT Jaccard over the full shingle sets decides membership. The
    * threshold test is integer-exact (inter >= 0.5*uni multiplies by a
    * binary-exact constant, and both sides are integers), so no float
    * boundary can flake the oracle compare.
    *
    * Shape at scale: candidates come from the df-pruned inverted index
    * (never a cross join), and the corpus is pruned to candidate ids by
    * a semi-join BEFORE any shingle array enters a shuffle — the verify
    * cost is O(candidate docs), not O(corpus), the same discipline
    * [[minhashIncrementalPairs]] follows for its incremental verify.
    *
    * `candidateFilter` runs on the candidate (d1, d2) frame BEFORE the
    * verify join: a consumer that only cares about a pair subset (x69
    * keeps only pairs whose ids hash to different splits) pushes its
    * cheap predicate below the expensive shingle shuffle + exact
    * Jaccard, shrinking BOTH verify inputs — semantics-preserving
    * because verify decides each pair independently. */
  def verifiedNearDupPairs(docs: DataFrame, n: Int = 3, maxDf: Int = 20,
                           minInter: Int = 2, jaccardThreshold: Double = 0.5,
                           hashGrams: Boolean = false,
                           candidateFilter: DataFrame => DataFrame = identity)
      : DataFrame = {
    // Share the mined pairs within the returned plan: the frame is
    // referenced twice (the id-prune semi-join AND the verify join),
    // Catalyst does not dedupe a multiply-referenced aggregate subtree,
    // and AQE stage reuse only recovers the shuffled stages — the corpus
    // scan + shingle explode feeding the first exchange would still run
    // once per reference. The pair set is small by construction
    // (df-pruned candidates), so the shared exchange carries KBs.
    val cand = candidateFilter(
      ngramCandidatePairs(docs, n, maxDf, minInter, hashGrams)
        .select(col("d1"), col("d2")))
    // ONE reference to the candidate aggregate, not two union branches:
    // Catalyst does not dedupe a multiply-referenced aggregate subtree,
    // so cand.select(d1) UNION cand.select(d2) would re-run the whole
    // gram pipeline per branch (plus a third time for the verify join)
    val candIds = cand
      .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    val sh = shingled(docs.join(candIds, Seq("doc_id"), "left_semi"), n)
    graft.plans.Shared(jaccardVerify(cand, sh, jaccardThreshold), cand)
  }

  def verifiedPairsQuery(spark: SparkSession, dir: String): DataFrame =
    verifiedNearDupPairs(Tables.load(spark, dir, "documents"))
      .select(col("d1"), col("d2"),
        col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"))
      .orderBy(col("d1"), col("d2"))

  /** x169: CROSS-CORPUS NEAR-DUP PROBE — the bipartite form of x46:
    * which CANDIDATE documents (a new crawl, a vendor drop) near-
    * duplicate the FROZEN reference corpus, without ever mining
    * reference-internal or candidate-internal pairs. This is the
    * "how much of this delivery do we already have" acceptance audit
    * run before paying for ingestion — x106/x91 answer it for EXACT
    * copies and novel grams; x169 answers it at near-dup grain with
    * exact-Jaccard evidence per pair.
    *
    * Shape: one fused corpus (the union is never materialized twice)
    * through x46's df-pruned candidate miner; the cross-side filter
    * runs INSIDE candidate generation (two id-table left joins on the
    * already-pruned pair stream — AQE broadcasts the id tables when
    * they fit), so same-side pairs never reach the verify join. The
    * verify stays exact integer Jaccard on candidate pairs only. */
  def crossNearDupProbe(candidates: DataFrame, reference: DataFrame,
                        n: Int = 3, maxDf: Int = 20, minInter: Int = 2,
                        jaccardThreshold: Double = 0.5,
                        hashGrams: Boolean = false): DataFrame = {
    val refIds = reference.select(col("doc_id").as("_rid"))
    val docs = candidates.select(col("doc_id"), col("lang"), col("text"))
      .unionByName(reference.select(col("doc_id"), col("lang"), col("text")))
    val crossOnly: DataFrame => DataFrame = pairs =>
      pairs
        .join(refIds.select(col("_rid").as("_r1")),
          col("d1") === col("_r1"), "left")
        .join(refIds.select(col("_rid").as("_r2")),
          col("d2") === col("_r2"), "left")
        .filter(col("_r1").isNotNull =!= col("_r2").isNotNull)
        .drop("_r1", "_r2")
    val verified = verifiedNearDupPairs(docs, n, maxDf, minInter,
      jaccardThreshold, hashGrams, crossOnly)
    // orient: cand_id is the non-reference side (exactly one by the
    // cross filter)
    verified
      .join(refIds.select(col("_rid").as("d1"), lit(1).as("_f1")),
        Seq("d1"), "left")
      .select(
        when(col("_f1").isNotNull, col("d2")).otherwise(col("d1")).as("cand_id"),
        when(col("_f1").isNotNull, col("d1")).otherwise(col("d2")).as("ref_id"),
        col("inter").cast("long").as("inter"),
        col("uni").cast("long").as("uni"))
  }

  /** The x169 queries() face: reference = src0/src1 (the x16
    * convention), candidates = everything else, with PLANTED cross
    * duplicates (the x97 residue discipline, twin-rebuildable):
    * candidate docs with id ≡ 0 (mod 23) and reference docs with
    * id ≡ 0 (mod 11) have text AND lang replaced by a shared
    * key-derived block (key = (id div m) mod 3), so every planted
    * candidate near-dups every planted reference with the same key
    * (Jaccard 1), while natural same-lang cross pairs keep flowing.
    * maxDf is raised to 100: the planted gram's document frequency
    * grows with SF (≈50 at sf0.1) and must stay under the rare-gram
    * prune for the plant to block. */
  def crossProbeQuery(spark: SparkSession, dir: String): DataFrame = {
    val (cand, ref) = plantedCrossCorpus(Tables.load(spark, dir, "documents"))
    crossNearDupProbe(cand, ref, maxDf = 100)
      .orderBy(col("cand_id"), col("ref_id"))
  }

  /** The planted bipartite corpus x169 and x171 share: (candidates,
    * reference) — see [[crossProbeQuery]] for the residue scheme. */
  private[graft] def plantedCrossCorpus(docs: DataFrame): (DataFrame, DataFrame) = {
    val isRef = col("source").isin("src0", "src1")
    def key(m: Int) =
      (floor(col("doc_id") / m).cast("long") % 3).cast("string")
    def ptext(k: Column) = concat(lit("planteddup"), k,
      repeat(concat(lit(" block"), k), 25))
    def plang(k: Column) = concat(lit("zz"), k)
    // The planted projection is referenced once per tier leg downstream
    // (x169's union + its three refIds joins, x174's exact tier, the
    // verdict assembly, the embeddings split). It is a scan plus a
    // projection, so each leg re-reads it with its own pruned columns
    // and pushed filters; sharing it would shuffle the whole documents
    // table instead. The expensive gram legs built from it are shared
    // where they are read twice.
    val planted = docs
      .withColumn("text",
        when(!isRef && col("doc_id") % 23 === 0, ptext(key(23)))
          .when(isRef && col("doc_id") % 11 === 0, ptext(key(11)))
          .otherwise(col("text")))
      .withColumn("lang",
        when(!isRef && col("doc_id") % 23 === 0, plang(key(23)))
          .when(isRef && col("doc_id") % 11 === 0, plang(key(11)))
          .otherwise(col("lang")))
    (planted.filter(!isRef), planted.filter(isRef))
  }

  // ------------------- incremental cross-corpus probe (x171) ----------

  /** The exploded distinct-gram view both sides of the incremental
    * probe are built from: (doc_id, lang, gram). */
  private def probeGrams(docs: DataFrame, n: Int,
                         hashGrams: Boolean): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        explode(wordShingles(col("text"), n)).as("g"))
      .select(col("doc_id"), col("lang"), gramKey(col("g"), hashGrams).as("gram"))

  /** The manifest parameter fingerprint of a cross-probe gram index:
    * appends and probes must match it exactly or the gram key-spaces
    * silently mix (raw vs hashed carriers, a different shingle n). */
  private def crossParams(n: Int, hashGrams: Boolean): Map[String, String] =
    Map("n" -> n.toString, "hashGrams" -> hashGrams.toString)

  /** Write one generation's gram, df and sizes dirs of a cross-probe
    * index under `root` and return part -> new dir. Shared by the
    * build, the standalone append, and the acceptance battery's build
    * and append. df and sizes derive from re-reading the just-written
    * narrow gram files, so the input is scanned ONCE. df is an
    * APPENDABLE part like grams/sizes: a generation writes only its own
    * per-gram counts and readers merge generations with a sum
    * ([[readMergedDf]]), so an append never rewrites the df table.
    * Appended doc sets are disjoint (requireNoDoubleIngest), so
    * per-generation counts sum to exactly the merged value. Dirs carry a unique per-attempt suffix
    * ([[graft.core.DeltaIndex.deltaDir]]) so a writer that loses the
    * commit race can never have touched a dir the winning manifest
    * references. */
  private def writeCrossGen(docs: DataFrame, root: String, gen: Long,
                            n: Int, hashGrams: Boolean): Map[String, String] = {
    import graft.core.DeltaIndex
    val spark = docs.sparkSession
    val gramsDir = DeltaIndex.deltaDir("grams", gen)
    probeGrams(docs, n, hashGrams)
      .write.mode("overwrite").parquet(s"$root/$gramsDir")
    val g = spark.read.parquet(s"$root/$gramsDir")
    val dfDir = DeltaIndex.deltaDir("df", gen)
    g.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$root/$dfDir")
    val sizesDir = DeltaIndex.deltaDir("sizes", gen)
    g.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$root/$sizesDir")
    Map("grams" -> gramsDir, "df" -> dfDir, "sizes" -> sizesDir)
  }

  /** Persist the frozen reference side of [[crossNearDupProbe]] so
    * repeated vendor deliveries probe an ARTIFACT instead of refusing
    * the union each time: `grams` — the reference's distinct word
    * n-grams, one row per (doc, gram); `df` — per-gram reference
    * document frequency (the frozen half of the union-df prune);
    * `sizes` — per-doc gram-set sizes (the frozen half of the
    * exact-Jaccard union). Parts live in [[graft.core.DeltaIndex]]
    * generation-manifest layout (so maintenance appends are O(delta),
    * never a rewrite) with the build parameters pinned in the
    * manifest. A build over an existing index commits the next
    * generation and vacuums the superseded ones. */
  def saveCrossProbeIndex(reference: DataFrame, path: String, n: Int = 3,
                          hashGrams: Boolean = false): Unit = {
    import graft.core.DeltaIndex
    val spark = reference.sparkSession
    val gen = DeltaIndex.latestOpt(spark, path).fold(0L)(_.gen + 1)
    DeltaIndex.commit(spark, path, DeltaIndex.Manifest(gen, crossParams(n, hashGrams),
      writeCrossGen(reference, path, gen, n, hashGrams).map { case (p, d) => p -> Vector(d) }))
    DeltaIndex.vacuum(spark, path, keepGenerations = 1)
  }

  /** The delta-write body shared by [[appendToCrossProbeIndex]] and
    * [[appendToAcceptanceIndex]]: write the delivery's gram, size and
    * df DELTA dirs and return the updated part map. Reads ONLY the
    * delivery and the just-written delta gram files — never an old
    * gram file (spec-gated by corrupting them first). */
  private[graft] def writeCrossDelta(admitted: DataFrame, root: String,
                              m: graft.core.DeltaIndex.Manifest, gen: Long,
                              n: Int, hashGrams: Boolean)
      : Map[String, Vector[String]] =
    writeCrossGen(admitted, root, gen, n, hashGrams)
      .map { case (p, d) => p -> (m.dirs(p) :+ d) }

  /** The read face of the appendable df part: per-generation counts sum
    * to the total (disjoint appended doc sets); the aggregate's gram
    * partitioning is reused by every downstream gram-keyed join, and
    * compaction bounds the generation count. Identity on
    * single-generation (freshly built or compacted) indexes. */
  private def readMergedDf(spark: SparkSession, root: String,
                           m: graft.core.DeltaIndex.Manifest): DataFrame =
    graft.core.DeltaIndex.read(spark, root, m, "df")
      .groupBy(col("gram")).agg(sum(col("df")).as("df"))

  /** The x171/x175 double-ingest guard: re-appending an already-indexed
    * doc would silently double its grams and every df it touches — the
    * classic replayed-delivery corruption. Re-delivery is
    * delete+rebuild, not append; fail fast BEFORE any write so the
    * index is untouched. Reads only the per-doc `sizes` metadata part,
    * never a gram file. */
  private def requireNoDoubleIngest(admitted: DataFrame, oldSizes: DataFrame,
                                    what: String, indexPath: String): Unit = {
    val dup = admitted.select(col("doc_id")).distinct()
      .join(oldSizes.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .limit(1).count()
    require(dup == 0L,
      s"$what: delivery contains doc_ids already in $indexPath " +
        "(double-ingest); re-delivery requires a rebuild, not an append")
  }

  /** INDEX MAINTENANCE (the x175 loop-closer): fold an ADMITTED
    * delivery into a [[saveCrossProbeIndex]] artifact, producing the
    * next-generation index — equal to a full rebuild over
    * reference ∪ delivery (spec-asserted) at O(delta) write cost: the
    * delivery's gram and size rows land in NEW immutable delta dirs,
    * the df merge is the one O(index-df) aggregate a merged-df probe
    * needs, and the generation commits as ONE manifest-file rename
    * ([[graft.core.DeltaIndex]]). Old gram files are never read
    * (spec-gated) and never rewritten. Readers racing an append are
    * snapshot-isolated: a resolved manifest's data dirs are immutable
    * and never deleted by an append, so an in-flight probe keeps its
    * complete generation. */
  def appendToCrossProbeIndex(admitted: DataFrame, indexPath: String,
                              n: Int = 3, hashGrams: Boolean = false): Unit = {
    import graft.core.DeltaIndex
    val spark = admitted.sparkSession
    val m = DeltaIndex.latest(spark, indexPath)
    DeltaIndex.requireParams(m, crossParams(n, hashGrams),
      "appendToCrossProbeIndex")
    requireNoDoubleIngest(admitted,
      DeltaIndex.read(spark, indexPath, m, "sizes"),
      "appendToCrossProbeIndex", indexPath)
    val gen = m.gen + 1
    val parts = writeCrossDelta(admitted, indexPath, m, gen, n, hashGrams)
    DeltaIndex.commit(spark, indexPath,
      DeltaIndex.Manifest(gen, m.params, m.parts ++ parts))
  }

  /** COMPACTION — the generation-count backstop [[DeltaIndex.vacuum]]
    * deliberately does not provide for appendable parts: after many
    * deliveries the grams/sizes parts are unions of many small
    * generation dirs (one per append), and every probe's scan plans
    * over all of them. This rewrites the CURRENT generation's parts as
    * single fresh dirs, commits them as the next generation and
    * vacuums the superseded ones — one declared full-index read, no
    * corpus needed (the grams ARE the data), params preserved, probe
    * results identical (spec-asserted). The old dirs stay until the
    * commit has landed, so the lazy reads feeding the rewrite never
    * lose their files; a battery's nested `sem/` sub-index is not a
    * part and stays where it is. The semantic sibling is
    * [[Similarity.rebuildSemRefIndex]], whose refit compacts the lists
    * as a side effect. */
  def compactCrossProbeIndex(spark: SparkSession, indexPath: String): Unit = {
    import graft.core.DeltaIndex
    val m = DeltaIndex.latest(spark, indexPath)
    // EVERY manifest-listed part compacts (dropping one — the battery's
    // texts tier — would orphan it for the next vacuum to delete); the
    // semantic index's cluster-partitioned lists must NOT round-trip
    // through a plain parquet rewrite (the partition layout would
    // flatten away) — its compaction is rebuildSemRefIndex.
    require(!m.parts.contains("lists"),
      s"compactCrossProbeIndex: $indexPath holds cluster-partitioned lists — " +
        "compact semantic indexes with rebuildSemRefIndex instead")
    val gen = m.gen + 1
    val parts = m.parts.keys.map { part =>
      val dir = DeltaIndex.deltaDir(part, gen)
      DeltaIndex.read(spark, indexPath, m, part)
        .write.mode("overwrite").parquet(s"$indexPath/$dir")
      part -> Vector(dir)
    }.toMap
    DeltaIndex.commit(spark, indexPath, DeltaIndex.Manifest(gen, m.params, parts))
    DeltaIndex.vacuum(spark, indexPath, keepGenerations = 1)
  }

  /** x171: the INCREMENTAL form of x169 — probe a delivery against the
    * frozen reference gram index without ever rescanning the reference
    * corpus. Result-identical to [[crossNearDupProbe]] on the same
    * (candidates, reference) split (spec-asserted; the x171 oracle is
    * x169's SQL verbatim):
    *
    *   - the union-df prune becomes candidate-df + FROZEN reference-df
    *     (only grams the delivery itself carries can mint cross pairs,
    *     so reference-only grams never enter the test);
    *   - pair mining joins the delivery's rare grams to the index
    *     postings on (gram, lang) — batch cost O(delivery grams), the
    *     reference side touched only where a delivery gram hits;
    *   - the exact-Jaccard verify recounts the intersection through the
    *     SAME gram join (shingle sets are distinct per doc, so the
    *     gram-join count IS the array_intersect size) with reference
    *     set sizes read from the frozen `sizes` table.
    *
    * The three index parts arrive as DataFrames so the in-run face
    * (x171's oracle query) and the disk round-trip
    * ([[crossProbeIndexed]], plan-gated to read only index files) share
    * one body. */
  def crossProbeAgainst(candidates: DataFrame, indexGrams: DataFrame,
                        indexDf: DataFrame, indexSizes: DataFrame,
                        n: Int = 3, maxDf: Int = 20, minInter: Int = 2,
                        jaccardThreshold: Double = 0.5,
                        hashGrams: Boolean = false): DataFrame = {
    // referenced by the df prune, the pair miner AND the verify recount
    // — shared within the returned plan, never three gram explosions
    val candGrams = probeGrams(candidates, n, hashGrams)
      .select(col("doc_id").as("cand_id"), col("lang"), col("gram"))
    val rare = candGrams.groupBy(col("gram")).agg(count(lit(1)).as("_dfc"))
      .join(indexDf.select(col("gram"), col("df").as("_dfr")),
        Seq("gram"), "left")
      .filter(col("_dfc") + coalesce(col("_dfr"), lit(0L)) <= maxDf)
      .select("gram")
    val refGrams = indexGrams
      .select(col("doc_id").as("ref_id"), col("lang"), col("gram"))
    val pairs = candGrams.join(rare, "gram")
      .join(refGrams.join(rare, "gram"), Seq("gram", "lang"))
      .groupBy(col("cand_id"), col("ref_id"))
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minInter)
      .select(col("cand_id"), col("ref_id"))
    graft.plans.Shared(verifyAgainstIndex(pairs, candGrams, refGrams, indexSizes,
      jaccardThreshold), candGrams)
  }

  /** The exact-Jaccard verify both index probes (x171's delivery-df
    * miner and x176's per-doc miner) run on their candidate pairs: the
    * intersection recounted through the gram join over the FULL gram
    * sets (shingle sets are distinct per doc, so the join count IS the
    * array_intersect size), candidate sizes from the cached grams,
    * reference sizes from the frozen table, and the same float accept
    * test as [[jaccardVerify]]. */
  private def verifyAgainstIndex(pairs: DataFrame, candGrams: DataFrame,
                                 refGrams: DataFrame, indexSizes: DataFrame,
                                 jaccardThreshold: Double): DataFrame = {
    val inter = pairs
      .join(candGrams.select(col("cand_id"), col("gram")), Seq("cand_id"))
      .join(refGrams.select(col("ref_id"), col("gram")), Seq("ref_id", "gram"))
      .groupBy(col("cand_id"), col("ref_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(candGrams.groupBy(col("cand_id")).agg(count(lit(1)).as("_nc")),
        Seq("cand_id"))
      .join(indexSizes.select(col("doc_id").as("ref_id"), col("n").as("_nr")),
        Seq("ref_id"))
      .withColumn("uni", col("_nc") + col("_nr") - col("inter"))
      .filter(col("inter").cast("double") >=
        lit(jaccardThreshold) * col("uni").cast("double"))
      .select(col("cand_id"), col("ref_id"),
        col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"))
  }

  /** [[crossProbeAgainst]] over a [[saveCrossProbeIndex]] artifact —
    * the per-delivery production face. Every file this plan reads is
    * under the index root (plan-gated): the reference CORPUS is gone
    * from the probe entirely. */
  def crossProbeIndexed(candidates: DataFrame, indexPath: String,
                        n: Int = 3, maxDf: Int = 20, minInter: Int = 2,
                        jaccardThreshold: Double = 0.5,
                        hashGrams: Boolean = false): DataFrame = {
    import graft.core.DeltaIndex
    val spark = candidates.sparkSession
    // ONE manifest resolve per probe: the generation's data dirs are
    // immutable and survive any concurrent append, so the three parts
    // below are a consistent snapshot by construction
    val m = DeltaIndex.latest(spark, indexPath)
    DeltaIndex.requireParams(m, crossParams(n, hashGrams),
      "crossProbeIndexed")
    crossProbeAgainst(candidates,
      DeltaIndex.read(spark, indexPath, m, "grams"),
      readMergedDf(spark, indexPath, m),
      DeltaIndex.read(spark, indexPath, m, "sizes"),
      n, maxDf, minInter, jaccardThreshold, hashGrams)
  }

  /** The x171 queries() face: x169's planted corpus, the reference side
    * frozen into its three index tables in-run (the dedupIncrQuery
    * in-memory-index discipline; the disk round-trip is spec-gated),
    * then probed. Shares x169's oracle SQL — the two are defined to
    * coincide. */
  def crossProbeIncrQuery(spark: SparkSession, dir: String): DataFrame = {
    val (cand, ref) = plantedCrossCorpus(Tables.load(spark, dir, "documents"))
    // the in-memory index: grams, df and sizes all read one gram frame
    val refGrams = probeGrams(ref, 3, hashGrams = false)
    graft.plans.Shared(crossProbeAgainst(cand, refGrams,
        refGrams.groupBy(col("gram")).agg(count(lit(1)).as("df")),
        refGrams.groupBy(col("doc_id")).agg(count(lit(1)).as("n")),
        maxDf = 100)
      .orderBy(col("cand_id"), col("ref_id")), refGrams)
  }

  // ------------------- delivery acceptance report (x174) --------------

  /** x174: DELIVERY ACCEPTANCE REPORT — the three acceptance tiers a
    * vendor drop runs before ingestion, fused into ONE per-candidate
    * verdict table:
    *
    *   - EXACT (x106 grain): the candidate's text equals some reference
    *     document's — `exact_ref` carries the smallest matching
    *     reference id; verdict `reject` (we literally have it).
    *   - SURFACE near-dup (x169): accepted cross-side Jaccard pairs —
    *     `n_surface`; verdict `review`.
    *   - SEMANTIC near-dup (x170): cross-side within-cluster cosine
    *     hits under the reference-fit codebook — `n_sem`; verdict
    *     `review` (same meaning, different words).
    *   - neither: `admit`.
    *
    * The tiers are the PROVEN faces composed, not re-implementations:
    * surface counts come from [[crossNearDupProbe]] and semantic counts
    * from [[graft.operators.Similarity.crossSemProbe]] — so x174 cannot
    * drift from x169/x170 (and the x174 oracle twin is their CTE chains
    * joined). Embeddings pair to documents by vec_id == doc_id (the
    * corpus-table contract).
    *
    * Scale shape: each tier is its own bounded pipeline (hash join on
    * text keys / df-pruned gram join / cluster-blocked cosine); the
    * final assembly is three left joins on cand_id. At 100 TB the
    * surface and semantic tiers read their PERSISTED indexes
    * ([[crossProbeIndexed]] / [[Similarity.semProbeAgainst]]) instead
    * of the in-run forms — same verdict columns. */
  def acceptanceReport(candDocs: DataFrame, refDocs: DataFrame,
                       candVecs: DataFrame, refVecs: DataFrame,
                       n: Int = 3, maxDf: Int = 20, minInter: Int = 2,
                       jaccardThreshold: Double = 0.5,
                       hashGrams: Boolean = false,
                       k: Int = Similarity.KmeansK,
                       iters: Int = Similarity.KmeansIters,
                       tau: Double = Similarity.SemDedupTau): DataFrame = {
    val exact = candDocs.select(col("doc_id").as("cand_id"), col("text"))
      .join(refDocs.groupBy(col("text"))
        .agg(min(col("doc_id")).as("exact_ref")), Seq("text"))
      .select(col("cand_id"), col("exact_ref"))
    val surface = crossNearDupProbe(candDocs, refDocs, n, maxDf, minInter,
        jaccardThreshold, hashGrams)
      .groupBy(col("cand_id"))
      .agg(count(lit(1)).as("n_surface"))
    val sem = Similarity.crossSemProbe(candVecs, refVecs, k, iters, tau)
      .select(col("cand_id"), col("n_dups").as("n_sem"))
    acceptanceAssemble(candDocs.select(col("doc_id").as("cand_id")),
      exact, surface, sem)
  }

  /** The verdict assembly x174 and x176 share — three left joins onto
    * the candidate list and ONE verdict CASE, so the batch report and
    * the live gate cannot disagree about what a verdict means. */
  private def acceptanceAssemble(candIds: DataFrame, exact: DataFrame,
                                 surface: DataFrame, sem: DataFrame): DataFrame =
    candIds
      .join(exact, Seq("cand_id"), "left")
      .join(surface, Seq("cand_id"), "left")
      .join(sem, Seq("cand_id"), "left")
      .select(col("cand_id"),
        col("exact_ref").cast("long").as("exact_ref"),
        coalesce(col("n_surface"), lit(0L)).as("n_surface"),
        coalesce(col("n_sem"), lit(0L)).as("n_sem"),
        when(col("exact_ref").isNotNull, "reject")
          .when(coalesce(col("n_surface"), lit(0L)) +
            coalesce(col("n_sem"), lit(0L)) > 0L, "review")
          .otherwise("admit").as("verdict"))

  /** The x174 queries() face: x169's planted corpus for the text tiers
    * (the planted cross blocks are EXACT text equalities, so the reject
    * tier fires), embeddings split by the documents' source via
    * vec_id == doc_id for the semantic tier (untouched by the text
    * plant — the tier keys on meaning). */
  def acceptanceQuery(spark: SparkSession, dir: String): DataFrame =
    plantedAcceptanceReport(spark, dir).orderBy(col("cand_id"))

  /** The planted x174 report (unordered) — shared by the x174 face and
    * the x179 ledger face. */
  private def plantedAcceptanceReport(spark: SparkSession,
                                      dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val (cand, ref) = plantedCrossCorpus(docs)
    val emb = Tables.load(spark, dir, "embeddings")
    val refIds = docs.filter(col("source").isin("src0", "src1"))
      .select(col("doc_id").as("vec_id"))
    val refVecs = emb.join(refIds, Seq("vec_id"), "left_semi")
    val candVecs = emb.join(refIds, Seq("vec_id"), "left_anti")
    acceptanceReport(cand, ref, candVecs, refVecs, maxDf = 100)
  }

  // ---------------------- live acceptance gate (x176) -----------------

  /** Persist the FULL acceptance reference for the live gate (x176):
    * `texts` (exact tier — text → smallest reference id), the x171
    * gram tables (`grams`/`df`/`sizes`, surface tier), and the x170
    * semantic sub-index nested at `sem/` (its own
    * [[graft.core.DeltaIndex]] artifact: codebook + centroid-
    * partitioned lists + ids). The battery's OWN manifest pins the
    * semantic GENERATION (`semGen`), so a gate resolves every tier
    * from one snapshot even while maintenance appends land. A build
    * over an existing battery commits the next generation of both
    * manifests (sem first, then the battery that pins it) and vacuums
    * the superseded ones. Reference docs and vectors pair by
    * doc_id == vec_id (the corpus-table contract). */
  def saveAcceptanceIndex(refDocs: DataFrame, refVecs: DataFrame,
                          path: String, n: Int = 3,
                          hashGrams: Boolean = false,
                          k: Int = Similarity.KmeansK,
                          iters: Int = Similarity.KmeansIters): Unit = {
    import graft.core.DeltaIndex
    val spark = refDocs.sparkSession
    val gen = DeltaIndex.latestOpt(spark, path).fold(0L)(_.gen + 1)
    val textsDir = DeltaIndex.deltaDir("texts", gen)
    refDocs.groupBy(col("text")).agg(min(col("doc_id")).as("exact_ref"))
      .write.mode("overwrite").parquet(s"$path/$textsDir")
    val semGen = Similarity.saveSemRefIndex(refVecs, s"$path/sem", k, iters)
    val parts = writeCrossGen(refDocs, path, gen, n, hashGrams) + ("texts" -> textsDir)
    DeltaIndex.commit(spark, path, DeltaIndex.Manifest(gen,
      crossParams(n, hashGrams) + ("semGen" -> semGen.toString),
      parts.map { case (p, d) => p -> Vector(d) }))
    DeltaIndex.vacuum(spark, path, keepGenerations = 1)
  }

  /** INDEX MAINTENANCE for the full battery (x175 at x176's grain):
    * fold an ADMITTED delivery (docs + vectors, doc_id == vec_id) into
    * a [[saveAcceptanceIndex]] artifact at O(delta) write cost — text
    * and gram delta dirs, the one merged-df aggregate, a semantic
    * lists/ids delta under `sem/`, then ONE battery-manifest commit
    * that flips every tier (including the pinned `semGen`) together.
    *
    * Crash discipline: the sem sub-index commits its own generation
    * BEFORE the battery manifest. Until the battery commit lands,
    * gates keep probing the OLD pinned semGen — tiers never mix. A
    * crash between the two commits heals on RETRY: the retry detects
    * that sem's latest generation is exactly this delivery (by its
    * `ids` metadata), skips the sem append, and re-commits the battery
    * (spec-asserted). */
  def appendToAcceptanceIndex(admittedDocs: DataFrame,
                              admittedVecs: DataFrame, indexPath: String,
                              n: Int = 3, hashGrams: Boolean = false): Unit = {
    import graft.core.DeltaIndex
    val spark = admittedDocs.sparkSession
    val m = DeltaIndex.latest(spark, indexPath)
    DeltaIndex.requireParams(m, crossParams(n, hashGrams),
      "appendToAcceptanceIndex")
    requireNoDoubleIngest(admittedDocs,
      DeltaIndex.read(spark, indexPath, m, "sizes"),
      "appendToAcceptanceIndex", indexPath)
    val semRoot = s"$indexPath/sem"
    val pinnedSemGen = m.params("semGen").toLong
    val semLatest = DeltaIndex.latest(spark, semRoot)
    val newSemGen =
      if (semLatest.gen == pinnedSemGen)
        Similarity.appendToSemRefIndex(admittedVecs, semRoot)
      else {
        // sem is AHEAD of the battery pin: either a crash between the
        // two commits (heal: the unpinned generations must be exactly
        // this delivery's vectors) or a foreign writer (refuse).
        val unpinnedIds = DeltaIndex.read(spark, semRoot, semLatest, "ids")
          .select(col("ref_id"))
          .exceptAll(DeltaIndex.read(spark, semRoot,
              DeltaIndex.at(spark, semRoot, pinnedSemGen), "ids")
            .select(col("ref_id")))
        val delivery = admittedVecs.filter(col("embedding").isNotNull)
          .select(col("vec_id").as("ref_id")).distinct()
        val foreign = unpinnedIds.exceptAll(delivery).limit(1).count() +
          delivery.exceptAll(unpinnedIds).limit(1).count()
        require(foreign == 0L,
          s"appendToAcceptanceIndex: $semRoot is ${semLatest.gen - pinnedSemGen} " +
            s"generation(s) ahead of the battery pin ($pinnedSemGen) and the " +
            "unpinned vectors are NOT this delivery — a foreign append landed; " +
            "rebuild the battery")
        semLatest.gen
      }
    val gen = m.gen + 1
    val textsDir = DeltaIndex.deltaDir("texts", gen)
    admittedDocs.groupBy(col("text")).agg(min(col("doc_id")).as("exact_ref"))
      .write.mode("overwrite").parquet(s"$indexPath/$textsDir")
    val parts = writeCrossDelta(admittedDocs, indexPath, m, gen, n, hashGrams)
    DeltaIndex.commit(spark, indexPath, DeltaIndex.Manifest(gen,
      m.params + ("semGen" -> newSemGen.toString),
      m.parts ++ parts + ("texts" -> (m.dirs("texts") :+ textsDir))))
  }

  /** x176: PER-DOCUMENT LIVE ACCEPTANCE GATE — x174 at the ingestion
    * edge: each arriving document (doc_id, lang, text, embedding) is
    * judged INDEPENDENTLY against the frozen acceptance reference and
    * gets the same (exact_ref, n_surface, n_sem, verdict) row the
    * batch report emits — the x55/x91 frozen-gate discipline for the
    * whole battery at once.
    *
    * The ONE deliberate semantic difference from x174: the surface
    * tier's rarity test is per-document — a gram is usable when
    * frozen-reference-df + 1 <= maxDf (the arriving doc's own
    * occurrence is the +1; distinct shingles make it exactly 1) —
    * because a live gate cannot know the rest of the delivery. A gram
    * rare in the reference but flooding the DELIVERY passes here and
    * is pruned by batch x174; that boundary is spec-pinned. Everything
    * downstream of rarity (the >= minInter miner, the exact-Jaccard
    * verify, the verdict CASE) is shared code with x171/x174 and
    * cannot drift. Each verdict is a pure function of (doc, index), so
    * replay equals batch by construction (spec-asserted) and the gate
    * is stream-safe: stream-static joins + update-mode per-doc
    * aggregates. */
  def acceptanceGateAgainst(cands: DataFrame, refTexts: DataFrame,
                            indexGrams: DataFrame, indexDf: DataFrame,
                            indexSizes: DataFrame, sem: DataFrame,
                            n: Int = 3, maxDf: Int = 20, minInter: Int = 2,
                            jaccardThreshold: Double = 0.5,
                            hashGrams: Boolean = false): DataFrame = {
    val exact = cands.select(col("doc_id").as("cand_id"), col("text"))
      .join(refTexts, Seq("text"))
      .select(col("cand_id"), col("exact_ref"))
    // read by the pair miner and the verify recount — shared within the
    // returned plan
    val candGrams = probeGrams(cands, n, hashGrams)
      .select(col("doc_id").as("cand_id"), col("lang"), col("gram"))
    val refGrams = indexGrams
      .select(col("doc_id").as("ref_id"), col("lang"), col("gram"))
    // per-doc rarity: frozen reference df + this doc's own occurrence;
    // grams absent from the index need no df row — they cannot pair
    val rare = indexDf.filter(col("df") + lit(1L) <= maxDf).select("gram")
    val pairs = candGrams.join(rare, "gram")
      .join(refGrams.join(rare, "gram"), Seq("gram", "lang"))
      .groupBy(col("cand_id"), col("ref_id"))
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minInter)
      .select(col("cand_id"), col("ref_id"))
    val surface = verifyAgainstIndex(pairs, candGrams, refGrams, indexSizes,
        jaccardThreshold)
      .groupBy(col("cand_id"))
      .agg(count(lit(1)).as("n_surface"))
    graft.plans.Shared(acceptanceAssemble(cands.select(col("doc_id").as("cand_id")),
      exact, surface, sem), candGrams)
  }

  /** [[acceptanceGateAgainst]] over a [[saveAcceptanceIndex]] artifact
    * — the per-delivery/streaming production face. Every file read is
    * under the index root (the x170/x171 scan-root gate pattern). */
  def acceptanceGateIndexed(cands: DataFrame, indexPath: String,
                            n: Int = 3, maxDf: Int = 20, minInter: Int = 2,
                            jaccardThreshold: Double = 0.5,
                            hashGrams: Boolean = false,
                            tau: Double = Similarity.SemDedupTau): DataFrame = {
    import graft.core.DeltaIndex
    val spark = cands.sparkSession
    // ONE battery manifest resolve: the semantic tier is pinned to the
    // generation THIS manifest names (semGen), so every tier scores
    // against the same snapshot even while maintenance appends land
    val m = DeltaIndex.latest(spark, indexPath)
    DeltaIndex.requireParams(m, crossParams(n, hashGrams),
      "acceptanceGateIndexed")
    val semRoot = s"$indexPath/sem"
    val sem = Similarity.semProbePinned(
        cands.select(col("doc_id").as("vec_id"), col("embedding")),
        semRoot, DeltaIndex.at(spark, semRoot, m.params("semGen").toLong), tau)
      .select(col("cand_id"), col("n_dups").as("n_sem"))
    // texts re-keys to one row per text across generations: under the
    // gate contract an admitted text is never re-admitted, but a misuse
    // must degrade to the smallest-id row, not silently duplicate the
    // per-candidate output grain
    val texts = DeltaIndex.read(spark, indexPath, m, "texts")
      .groupBy(col("text")).agg(min(col("exact_ref")).as("exact_ref"))
    acceptanceGateAgainst(cands,
      texts,
      DeltaIndex.read(spark, indexPath, m, "grams"),
      readMergedDf(spark, indexPath, m),
      DeltaIndex.read(spark, indexPath, m, "sizes"),
      sem, n, maxDf, minInter, jaccardThreshold, hashGrams)
  }

  /** The x176 queries() face: x174's planted corpus and embedding
    * split, the reference frozen into its in-memory tier tables (the
    * dedupIncrQuery discipline; the disk round-trip is spec- and
    * plan-gated), each candidate gated per-doc. */
  def acceptanceGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val (cand, ref) = plantedCrossCorpus(docs)
    val emb = Tables.load(spark, dir, "embeddings")
    val refIds = docs.filter(col("source").isin("src0", "src1"))
      .select(col("doc_id").as("vec_id"))
    val refVecs = emb.join(refIds, Seq("vec_id"), "left_semi")
    val candVecs = emb.join(refIds, Seq("vec_id"), "left_anti")
    // the in-memory index: grams, df and sizes all read one gram frame
    val refGrams = probeGrams(ref, 3, hashGrams = false)
    val sem = Similarity.crossSemProbe(candVecs, refVecs)
      .select(col("cand_id"), col("n_dups").as("n_sem"))
    graft.plans.Shared(acceptanceGateAgainst(cand,
        ref.groupBy(col("text")).agg(min(col("doc_id")).as("exact_ref")),
        refGrams,
        refGrams.groupBy(col("gram")).agg(count(lit(1)).as("df")),
        refGrams.groupBy(col("doc_id")).agg(count(lit(1)).as("n")),
        sem, maxDf = 100)
      .orderBy(col("cand_id")), refGrams)
  }

  // ------------------ the delivery loop, composed ---------------------

  /** What one vendor delivery leaves behind: the per-candidate report
    * (re-read from the ledger generation it was persisted to — so it
    * stays readable even after a drift rebuild vacuums the semantic
    * generation the gate's lazy plan read), how many docs were
    * admitted, the battery's latest generation after the admits and
    * any maintenance (None when nothing was admitted), the ledger
    * generation holding this report, the pre-append drift check over
    * the delivery's vectors (k rows, localized — its source plan reads
    * files a rebuild reclaims), and which maintenance policies fired. */
  final case class DeliveryOutcome(report: DataFrame, admitted: Long,
                                   batteryGen: Option[Long], ledgerGen: Long,
                                   drift: DataFrame,
                                   rebuiltSem: Boolean = false,
                                   compacted: Boolean = false)

  /** Compaction policy default: compact the battery once an appendable
    * part accumulates this many generation dirs. Each append adds one
    * dir per part; past ~a dozen the probe's union plans over many
    * small files for no information gain (the small-files tax), while
    * compacting too eagerly re-reads the whole index per delivery. */
  val CompactAfterGenerations = 8

  /** The WHEN of [[compactCrossProbeIndex]] — the policy hook the
    * delivery loop calls after each append (VERDICT r18 ask): compact
    * when any appendable part's generation-dir count reaches
    * `maxGenerations`. Returns whether it fired. The trigger reads ONE
    * manifest (no data files); the compaction itself is the declared
    * full-index read. */
  def maybeCompactCrossProbeIndex(spark: SparkSession, indexPath: String,
                                  maxGenerations: Int = CompactAfterGenerations)
      : Boolean = {
    require(maxGenerations >= 2,
      s"maybeCompactCrossProbeIndex: maxGenerations=$maxGenerations")
    val m = graft.core.DeltaIndex.latest(spark, indexPath)
    val fire = m.parts.valuesIterator.exists(_.length >= maxGenerations)
    if (fire) compactCrossProbeIndex(spark, indexPath)
    fire
  }

  /** DRIFT-TRIGGERED SEMANTIC REBUILD at the battery grain — what an
    * x178 `rebuild` verdict fires inside the delivery loop: refit the
    * nested sem sub-index over everything it holds
    * ([[Similarity.rebuildSemRefIndex]] — it commits the sub-index's
    * next generation and keeps the one the battery pins), then commit
    * a battery manifest that re-pins `semGen` to the refit, with every
    * other tier's parts unchanged, and vacuum the superseded
    * generations of both. `k` defaults to the sub-index's current
    * codebook size; raise it when the drift means new mass needs its
    * own cluster(s).
    *
    * Crash window: a crash between the sem commit and the battery
    * re-pin leaves the battery pinned to the previous sem generation,
    * which is still complete — gates keep working on it, and
    * [[healBatterySemPin]] (run at the top of every [[processDelivery]])
    * re-pins to the refit. */
  def rebuildBatterySemIndex(spark: SparkSession, indexPath: String,
                             k: Option[Int] = None,
                             iters: Int = Similarity.KmeansIters): Unit = {
    import graft.core.DeltaIndex
    val m = DeltaIndex.latest(spark, indexPath)
    val semRoot = s"$indexPath/sem"
    val semK = k.getOrElse(DeltaIndex.latest(spark, semRoot).params("k").toInt)
    val fresh = Similarity.rebuildSemRefIndex(spark, semRoot, semK, iters)
    DeltaIndex.commit(spark, indexPath, DeltaIndex.Manifest(m.gen + 1,
      m.params + ("semGen" -> fresh.toString), m.parts))
    DeltaIndex.vacuum(spark, indexPath, keepGenerations = 1)
  }

  /** Writer-side heal for [[rebuildBatterySemIndex]]'s crash window:
    * the sem rebuild committed, the battery re-pin did not. A refit
    * moves no vector in or out, so that sem generation holds exactly
    * the pinned generation's ids — which [[appendToAcceptanceIndex]]'s
    * sem-ahead branch would refuse as foreign. Re-pin to it. A sem
    * generation ahead with any other id set is the append window,
    * which the append itself heals or refuses. A no-op on a healthy
    * battery (one manifest read each side, no data files). */
  private def healBatterySemPin(spark: SparkSession, indexPath: String): Unit = {
    import graft.core.DeltaIndex
    val m = DeltaIndex.latest(spark, indexPath)
    val semRoot = s"$indexPath/sem"
    val semLatest = DeltaIndex.latest(spark, semRoot)
    val pinned = DeltaIndex.at(spark, semRoot, m.params("semGen").toLong)
    def ids(g: DeltaIndex.Manifest) =
      DeltaIndex.read(spark, semRoot, g, "ids").select(col("ref_id"))
    if (semLatest.gen != pinned.gen &&
        ids(semLatest).exceptAll(ids(pinned)).limit(1).count() == 0L &&
        ids(pinned).exceptAll(ids(semLatest)).limit(1).count() == 0L)
      DeltaIndex.commit(spark, indexPath, DeltaIndex.Manifest(m.gen + 1,
        m.params + ("semGen" -> semLatest.gen.toString), m.parts))
  }

  /** THE CURATION LOOP, composed end-to-end from the proven pieces —
    * what a production intake runs per vendor drop:
    *
    *   1. gate every document against the frozen acceptance battery
    *      (x176, [[acceptanceGateIndexed]] — exact + surface + semantic
    *      tiers, one pinned snapshot);
    *   2. drift-check the delivery's vectors against the semantic
    *      sub-index (x178) BEFORE ingesting them — the signal that
    *      schedules [[Similarity.rebuildSemRefIndex]];
    *   3. fold the ADMITTED docs+vectors into the battery (x175,
    *      [[appendToAcceptanceIndex]] — O(delta), one commit, so the
    *      NEXT delivery's copies of these docs are rejected);
    *   4. append the full report to the acceptance ledger (x179) for
    *      the cross-delivery release-notes diff.
    *
    * POLICY (VERDICT r18 asks 3+4 — the last manual steps, closed):
    *
    *   - a drift verdict (`rebuild=1`, measured PRE-ingest against the
    *     frozen codebook) triggers [[rebuildBatterySemIndex]] right
    *     AFTER the append — the refit then covers the shifted mass this
    *     delivery admitted (it lives in the index's own lists), so the
    *     NEXT delivery's paraphrases of it are caught
    *     (recall-recovery spec-asserted);
    *   - after the append, [[maybeCompactCrossProbeIndex]] compacts
    *     once any part holds `compactAfter` generation dirs (probe
    *     results identical, spec-asserted; the compaction commits the
    *     next battery generation).
    *
    * Ordering discipline: the report is persisted to the ledger BEFORE
    * any maintenance that vacuums index generations (a rebuild or a
    * compaction reclaims files lazy plans may still read), and the
    * returned `report` / `drift` frames are re-read from the ledger /
    * localized — both safe to consume after any policy fired.
    *
    * Each step is individually oracle- or spec-gated; this composition
    * is spec-gated as a three-delivery scenario (double-submission
    * rejected, ledger diff flags the shift, empty-admit deliveries do
    * not churn a battery generation) plus planted-drift and
    * compaction-trigger scenarios. */
  def processDelivery(delivery: DataFrame, indexPath: String,
                      ledgerPath: String,
                      n: Int = 3, maxDf: Int = 20, minInter: Int = 2,
                      jaccardThreshold: Double = 0.5,
                      hashGrams: Boolean = false,
                      tau: Double = Similarity.SemDedupTau,
                      driftThreshold: Double = Similarity.SemDriftThreshold,
                      rebuildOnDrift: Boolean = true,
                      rebuildK: Option[Int] = None,
                      compactAfter: Int = CompactAfterGenerations)
      : DeliveryOutcome = {
    import graft.core.DeltaIndex
    val spark = delivery.sparkSession
    // re-pin a crashed drift-rebuild's refit before the append can
    // refuse it as foreign (writer-side job — see rebuildBatterySemIndex)
    healBatterySemPin(spark, indexPath)
    val vecs = delivery.select(col("doc_id").as("vec_id"), col("embedding"))
    // the drift verdict is consumed NOW (k rows — bounded by the
    // codebook) and the frame localized: its plan reads sem files a
    // triggered rebuild would vacuum
    val driftRows = Similarity.semIndexDriftCheck(vecs, s"$indexPath/sem",
      driftThreshold)
    val rows = driftRows.collect()
    val driftLocal =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), driftRows.schema)
    val shifted =
      rows.headOption.exists(r => r.getLong(r.fieldIndex("rebuild")) == 1L)
    // the report is read by the admit count and the ledger write, both
    // run here; everything after reads the copy the ledger holds, so the
    // persist is released as soon as the write has landed
    val report = acceptanceGateIndexed(delivery, indexPath, n, maxDf, minInter,
        jaccardThreshold, hashGrams, tau).persist()
    val (nAdmitted, ledgerGen) = try {
      val admittedIds = report.filter(col("verdict") === "admit")
        .select(col("cand_id").as("doc_id"))
      (delivery.join(admittedIds, Seq("doc_id"), "left_semi").count(),
        // the report lands on disk before any vacuuming maintenance
        appendAcceptanceLedger(report, ledgerPath))
    } finally report.unpersist()
    val reportStored = spark.read.parquet(
      s"$ledgerPath/${DeltaIndex.latest(spark, ledgerPath).dirs("reports").last}")
    val admitted = delivery.join(
      reportStored.filter(col("verdict") === "admit").select(col("cand_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    // an all-rejected delivery must not churn an (empty) battery
    // generation — the report still went to the ledger for the audit
    if (nAdmitted > 0L)
      appendToAcceptanceIndex(admitted,
        admitted.select(col("doc_id").as("vec_id"), col("embedding")),
        indexPath, n, hashGrams)
    // rebuild AFTER the append: the refit must cover the shifted mass
    // this delivery admitted, or the next delivery's paraphrases of it
    // would still cross the stale Voronoi boundary unseen. An
    // all-rejected delivery skips it — nothing new entered the lists,
    // so a refit would re-cluster identical data for nothing
    val rebuilt = rebuildOnDrift && shifted && nAdmitted > 0L
    if (rebuilt) rebuildBatterySemIndex(spark, indexPath, rebuildK)
    val compacted = nAdmitted > 0L &&
      maybeCompactCrossProbeIndex(spark, indexPath, compactAfter)
    val batteryGen =
      if (nAdmitted == 0L) None
      else Some(DeltaIndex.latest(spark, indexPath).gen)
    DeliveryOutcome(reportStored, nAdmitted, batteryGen, ledgerGen,
      driftLocal, rebuiltSem = rebuilt, compacted = compacted)
  }

  // ------------------ acceptance tier attribution (x181) --------------

  /** x181: TIER ATTRIBUTION — the "why" breakdown of an acceptance
    * report (x174/x176 output): per (exact, surface, sem) firing
    * combination, the candidate count, verdict, and round-6 share of
    * the report. The explainability table a curator reads next to the
    * verdict mix: "rejects are exact-dominated" points at a replayed
    * delivery, "reviews are sem-only" at a paraphrase mill — the same
    * counts split by CAUSE instead of outcome. One hash aggregate on at
    * most 8 keys over a per-candidate report; the verdict column rides
    * along because it is a pure function of the flags (shared CASE —
    * cannot disagree with the report's own verdicts). */
  def acceptanceTierBreakdown(report: DataFrame): DataFrame = {
    val flags = report.select(
      when(col("exact_ref").isNotNull, 1L).otherwise(0L).as("exact"),
      when(col("n_surface") > 0L, 1L).otherwise(0L).as("surface"),
      when(col("n_sem") > 0L, 1L).otherwise(0L).as("sem"))
    val grouped = flags
      .groupBy(col("exact"), col("surface"), col("sem"))
      .agg(count(lit(1)).as("n"))
    // the total rides an unbounded window over the ≤8-row combo frame,
    // not a crossJoin(agg) pair — see [[acceptanceLedgerDiff]] (the agg
    // form re-executed the grouped aggregate, report scan included, per
    // subtree reference); values identical.
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    grouped
      .withColumn("_t", sum(col("n")).over(w))
      .select(col("exact"), col("surface"), col("sem"),
        when(col("exact") === 1L, "reject")
          .when(col("surface") + col("sem") > 0L, "review")
          .otherwise("admit").as("verdict"),
        col("n"),
        round(col("n").cast("double") / col("_t").cast("double"), 6)
          .as("share"))
  }

  /** The x181 queries() face: attribution over the planted x174 report
    * (read once — one report computation per query). */
  def acceptanceTierQuery(spark: SparkSession, dir: String): DataFrame =
    acceptanceTierBreakdown(plantedAcceptanceReport(spark, dir))
      .orderBy(col("exact"), col("surface"), col("sem"))

  // ------------- ledger x tier attribution (x182) ---------------------

  /** The 8-combination support of the tier-firing cube — the fixed
    * denominator of [[acceptanceTierShift]]'s Laplace smoothing. */
  private val TierCombos: Seq[(Long, Long, Long)] =
    for (e <- 0L to 1L; s <- 0L to 1L; m <- 0L to 1L) yield (e, s, m)

  /** Per-(exact, surface, sem) firing-combination counts of one
    * acceptance report — the 8-row-max table the ledger persists per
    * generation so tier shifts diff without re-reading reports. */
  private def tierCounts(report: DataFrame): DataFrame =
    report.select(
        when(col("exact_ref").isNotNull, 1L).otherwise(0L).as("exact"),
        when(col("n_surface") > 0L, 1L).otherwise(0L).as("surface"),
        when(col("n_sem") > 0L, 1L).otherwise(0L).as("sem"))
      .groupBy(col("exact"), col("surface"), col("sem"))
      .agg(count(lit(1)).as("n"))

  /** x182: TIER-SHIFT ATTRIBUTION — the composition of x179 (WHETHER
    * the verdict mix moved between deliveries) and x181 (WHY a verdict
    * fired): the same PSI movement, broken down by tier-firing
    * combination instead of verdict class, so a curator reads WHICH
    * tier's firings drove the shift ("the PSI is all in the
    * sem-only combo" points at a paraphrase mill, "exact-dominated" at
    * a replayed delivery). Per combination over the full 8-cell
    * support: counts, delta, Laplace-smoothed round-6 shares
    * (`(n+1)/(N+8)`), the x82-pinned-ln PSI term, the exact-DECIMAL
    * PSI total, the combo's shared-CASE verdict, and the `shifted`
    * flag repeated per row (the x178/x179 1-row-total discipline).
    * Scale shape: each side is one hash aggregate on 3 binary keys
    * over its report; everything downstream is 8-row arithmetic. */
  def acceptanceTierShift(prevCounts: DataFrame, currCounts: DataFrame,
                          threshold: Double = AcceptShiftThreshold)
      : DataFrame = {
    val spark = prevCounts.sparkSession
    import spark.implicits._
    val k = TierCombos.length
    val keys = Seq("exact", "surface", "sem")
    val joined = TierCombos.toDF(keys: _*)
      .join(prevCounts.withColumnRenamed("n", "n_prev"), keys, "left")
      .join(currCounts.withColumnRenamed("n", "n_curr"), keys, "left")
      .select(col("exact"), col("surface"), col("sem"),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"),
        coalesce(col("n_curr"), lit(0L)).as("n_curr"))
    // totals via an unbounded window over the 8-row combo frame, not a
    // crossJoin(agg) pair — see [[acceptanceLedgerDiff]] (one linear
    // chain instead of re-executing both tier-count aggregates per
    // subtree reference); values identical, support fixed at 8 rows.
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val per = joined
      .withColumn("_tp", sum(col("n_prev")).over(w))
      .withColumn("_tc", sum(col("n_curr")).over(w))
      .select(col("exact"), col("surface"), col("sem"),
        when(col("exact") === 1L, "reject")
          .when(col("surface") + col("sem") > 0L, "review")
          .otherwise("admit").as("verdict"),
        col("n_prev"), col("n_curr"),
        (col("n_curr") - col("n_prev")).as("delta"),
        round((col("n_prev") + 1L).cast("double") /
          (col("_tp") + k).cast("double"), 6).as("share_prev"),
        round((col("n_curr") + 1L).cast("double") /
          (col("_tc") + k).cast("double"), 6).as("share_curr"))
      .withColumn("psi_term",
        round((col("share_curr") - col("share_prev")) *
          round(log(col("share_curr") / col("share_prev")), 6), 6))
    per
      .withColumn("psi",
        round(sum(col("psi_term").cast("decimal(18,6)")).over(w)
          .cast("double"), 6))
      .select(col("exact"), col("surface"), col("sem"), col("verdict"),
        col("n_prev"), col("n_curr"), col("delta"),
        col("share_prev"), col("share_curr"), col("psi_term"), col("psi"),
        when(col("psi") >= threshold, 1L).otherwise(0L).as("shifted"))
  }

  /** [[acceptanceTierShift]] straight off two acceptance reports. */
  def acceptanceLedgerTierDiff(prev: DataFrame, curr: DataFrame,
                               threshold: Double = AcceptShiftThreshold)
      : DataFrame =
    acceptanceTierShift(tierCounts(prev), tierCounts(curr), threshold)

  /** [[acceptanceTierShift]] between the two NEWEST persisted ledger
    * generations' tier tables — the per-delivery production read
    * (8-row parquet scans; the reports themselves stay unread). */
  def acceptanceTierShiftLatest(spark: SparkSession, ledgerPath: String,
                                threshold: Double = AcceptShiftThreshold)
      : DataFrame = {
    import graft.core.DeltaIndex
    val m = DeltaIndex.latest(spark, ledgerPath)
    val dirs = m.parts.getOrElse("tiers", Vector.empty)
    require(dirs.length >= 2,
      s"acceptanceTierShiftLatest: need two tier generations at " +
        s"$ledgerPath, have ${dirs.length} (append two deliveries)")
    acceptanceTierShift(
      spark.read.parquet(s"$ledgerPath/${dirs(dirs.length - 2)}"),
      spark.read.parquet(s"$ledgerPath/${dirs.last}"),
      threshold)
  }

  /** The x182 queries() face: the x179 even/odd split of the planted
    * x174 report, attributed per tier combination (both halves read one
    * report computation, shared within the plan). */
  def acceptanceTierShiftQuery(spark: SparkSession, dir: String): DataFrame = {
    val rep = plantedAcceptanceReport(spark, dir)
    graft.plans.Shared(acceptanceLedgerTierDiff(
        rep.filter(col("cand_id") % 2 === 0),
        rep.filter(col("cand_id") % 2 =!= 0))
      .orderBy(col("exact"), col("surface"), col("sem")), rep)
  }

  // ---------------------- acceptance ledger (x179) --------------------

  /** PSI at or above this on the verdict-mix histogram flags a shifted
    * delivery (same rule-of-thumb and round-6 image discipline as
    * [[Similarity.SemDriftThreshold]]). */
  val AcceptShiftThreshold = 0.2

  /** The three verdict classes every report row lands in — the fixed
    * support of the ledger histogram. */
  private val Verdicts = Seq("admit", "review", "reject")

  /** x179: ACCEPTANCE LEDGER DIFF — the release-notes audit between two
    * delivery generations' acceptance reports (x174's output schema):
    * per verdict class, the counts, the delta, Laplace-smoothed round-6
    * shares, the x82-pinned-ln PSI term, plus the total `psi` and the
    * `shifted` verdict repeated per row (the x178 1-row-total shape).
    * A vendor whose reject/review mix jumps between deliveries is the
    * first sign of a pipeline change upstream — this is the table a
    * curator reads before trusting delivery N because delivery N-1 was
    * fine.
    *
    * Scale shape: each side is ONE hash aggregate on 3 keys over its
    * report (reports are per-candidate tables, already the small output
    * of the acceptance battery); everything downstream is 3-row
    * arithmetic. */
  def acceptanceLedgerDiff(prev: DataFrame, curr: DataFrame,
                           threshold: Double = AcceptShiftThreshold)
      : DataFrame = {
    val spark = prev.sparkSession
    import spark.implicits._
    val k = Verdicts.length
    def hist(r: DataFrame, as: String) =
      r.groupBy(col("verdict")).agg(count(lit(1)).as(as))
    val joined = Verdicts.toDF("verdict")
      .join(hist(prev, "n_prev"), Seq("verdict"), "left")
      .join(hist(curr, "n_curr"), Seq("verdict"), "left")
      .select(col("verdict"),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"),
        coalesce(col("n_curr"), lit(0L)).as("n_curr"))
    // totals ride an unbounded window over the |Verdicts|-row frame, NOT
    // a crossJoin(agg) pair: the aggregate form referenced `joined` (and
    // then `per`) from two subtrees each, so the whole histogram chain —
    // including both report scans — re-executed per reference (~20 tiny
    // stages measured on the x179 face); the window form is one linear
    // chain over a 3-row frame, values identical. The single-partition
    // window is bounded by construction (the fixed verdict support).
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val per = joined
      .withColumn("_tp", sum(col("n_prev")).over(w))
      .withColumn("_tc", sum(col("n_curr")).over(w))
      .select(col("verdict"), col("n_prev"), col("n_curr"),
        (col("n_curr") - col("n_prev")).as("delta"),
        round((col("n_prev") + 1L).cast("double") /
          (col("_tp") + k).cast("double"), 6).as("share_prev"),
        round((col("n_curr") + 1L).cast("double") /
          (col("_tc") + k).cast("double"), 6).as("share_curr"))
      .withColumn("psi_term",
        round((col("share_curr") - col("share_prev")) *
          round(log(col("share_curr") / col("share_prev")), 6), 6))
    per
      .withColumn("psi",
        round(sum(col("psi_term").cast("decimal(18,6)")).over(w)
          .cast("double"), 6))
      .select(col("verdict"), col("n_prev"), col("n_curr"), col("delta"),
        col("share_prev"), col("share_curr"), col("psi_term"), col("psi"),
        when(col("psi") >= threshold, 1L).otherwise(0L).as("shifted"))
  }

  /** Persist one delivery's acceptance report as the next ledger
    * generation: `reports/g<gen>` (the per-candidate audit trail) plus
    * `tiers/g<gen>` (the 8-row-max x181 firing-combination counts, so
    * the x182 tier-shift read never re-scans a report), one manifest
    * commit — the [[graft.core.DeltaIndex]] append discipline;
    * generation dirs are immutable, so the full audit trail survives
    * every append. Returns the committed generation. */
  def appendAcceptanceLedger(report: DataFrame, ledgerPath: String): Long = {
    import graft.core.DeltaIndex
    val spark = report.sparkSession
    val mOpt = DeltaIndex.latestOpt(spark, ledgerPath)
    val gen = mOpt.map(_.gen + 1L).getOrElse(0L)
    // unique attempt dir + mode overwrite: the writeCrossDelta retry
    // discipline (a crash after the data write, before the commit,
    // must not brick the retry on error-if-exists — ADVICE r18), and a
    // lost commit race leaves only an unreferenced orphan for vacuum
    val dir = DeltaIndex.deltaDir("reports", gen)
    report
      .select(col("cand_id"), col("exact_ref"), col("n_surface"),
        col("n_sem"), col("verdict"))
      .write.mode("overwrite").parquet(s"$ledgerPath/$dir")
    // tier counts derive from the just-written immutable report files,
    // not the caller's (possibly expensive) plan
    val tiersDir = DeltaIndex.deltaDir("tiers", gen)
    tierCounts(spark.read.parquet(s"$ledgerPath/$dir"))
      .write.mode("overwrite").parquet(s"$ledgerPath/$tiersDir")
    DeltaIndex.commit(spark, ledgerPath, DeltaIndex.Manifest(gen,
      Map.empty,
      Map("reports" ->
        (mOpt.map(_.dirs("reports")).getOrElse(Vector.empty) :+ dir),
        "tiers" ->
          (mOpt.flatMap(_.parts.get("tiers")).getOrElse(Vector.empty)
            :+ tiersDir))))
    gen
  }

  /** [[acceptanceLedgerDiff]] between the two NEWEST persisted
    * generations — the per-delivery production read. */
  def acceptanceLedgerLatest(spark: SparkSession,
                             ledgerPath: String,
                             threshold: Double = AcceptShiftThreshold)
      : DataFrame = {
    import graft.core.DeltaIndex
    val m = DeltaIndex.latest(spark, ledgerPath)
    val dirs = m.dirs("reports")
    require(dirs.length >= 2,
      s"acceptanceLedgerLatest: need two generations at $ledgerPath, " +
        s"have ${dirs.length}")
    acceptanceLedgerDiff(
      spark.read.parquet(s"$ledgerPath/${dirs(dirs.length - 2)}"),
      spark.read.parquet(s"$ledgerPath/${dirs.last}"),
      threshold)
  }

  /** The x179 queries() face: the planted x174 report split into two
    * deterministic "deliveries" (even vs odd cand_ids — the x106 split
    * discipline), diffed. One report computation feeds both sides
    * (shared within the plan), so the face costs one x174 plus 3-row
    * arithmetic. */
  def acceptanceLedgerQuery(spark: SparkSession, dir: String): DataFrame = {
    val rep = plantedAcceptanceReport(spark, dir)
    graft.plans.Shared(acceptanceLedgerDiff(
        rep.filter(col("cand_id") % 2 === 0),
        rep.filter(col("cand_id") % 2 =!= 0))
      .orderBy(col("verdict")), rep)
  }

  /** x87 acceptance: max-direction containment ≥ ContainNum/ContainDen
    * (0.6), tested in exact integer arithmetic. */
  val ContainNum = 3
  val ContainDen = 5

  /** x87: asymmetric n-gram CONTAINMENT pairs — the subset-duplication
    * detector Jaccard-gated dedup (x46/x76) structurally misses: a short
    * document fully quoted inside a long one has J = |A|/|B| (tiny) but
    * containment C(A→B) = |grams(A)∩grams(B)|/|grams(A)| = 1. Quotes,
    * wrapped reposts, and boilerplate-padded copies are exactly this
    * shape, and a curator must catch them BEFORE mixing (the long doc
    * leaks the short doc's content into every split it lands in).
    *
    * Same audited scale shape as [[verifiedNearDupPairs]]: candidates
    * from the df-pruned rare-gram inverted index (never a cross join),
    * corpus semi-joined down to candidate ids before any shingle array
    * shuffles, then one exact set-intersection per candidate pair. The
    * accept test keeps max(C(A→B), C(B→A)) ≥ 0.6 as the integer
    * inequality inter·[[ContainDen]] ≥ min(n1,n2)·[[ContainNum]] — no
    * float division can flake the oracle compare. Both per-side gram
    * counts ride along so a consumer can re-derive either direction. */
  def containmentPairs(docs: DataFrame, n: Int = 3, maxDf: Int = 20,
                       minInter: Int = 2): DataFrame = {
    // Shared within the returned plan for the same two-reference reason
    // as [[verifiedNearDupPairs]].
    val cand = ngramCandidatePairs(docs, n, maxDf, minInter)
      .select(col("d1"), col("d2"))
    val candIds = cand
      .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    val sh = shingled(docs.join(candIds, Seq("doc_id"), "left_semi"), n)
    val sh1 = sh.select(col("doc_id").as("d1"), col("sh").as("sh1"))
    val sh2 = sh.select(col("doc_id").as("d2"), col("sh").as("sh2"))
    graft.plans.Shared(cand.join(sh1, "d1").join(sh2, "d2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("n1", size(col("sh1")))
      .withColumn("n2", size(col("sh2")))
      .filter(col("inter") * ContainDen >= least(col("n1"), col("n2")) * ContainNum)
      .select(col("d1"), col("d2"), col("inter").cast("long").as("inter"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2")), cand)
  }

  def containmentQuery(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.load(spark, dir, "documents"))
      .orderBy(col("d1"), col("d2"))

  /** x52: the cross-SOURCE near-dup contamination matrix — for each
    * ordered source pair, how many verified near-dup pairs (x46's
    * accept set) straddle it. The dataset-level report a corpus curator
    * reads to find which feeds are copying which: a heavy off-diagonal
    * cell means two sources share content, a heavy diagonal means one
    * source self-duplicates. Plan: the verified pairs (small by
    * construction) join the two doc->source sides, then one tiny agg —
    * the corpus-sized work is all inside [[verifiedNearDupPairs]]'s
    * already-audited shape. A pipeline that has already run x46 should
    * persist the pairs ([[saveVerifiedPairs]]) and feed
    * [[contaminationFromPairs]] instead — the matrix is then a
    * sub-second join over the artifact, not a corpus recompute. */
  def contaminationMatrix(docs: DataFrame, n: Int = 3, maxDf: Int = 20,
                          minInter: Int = 2,
                          jaccardThreshold: Double = 0.5): DataFrame =
    contaminationFromPairs(
      verifiedNearDupPairs(docs, n, maxDf, minInter, jaccardThreshold), docs)

  /** The matrix tail shared by the inline form and the artifact path:
    * pairs (d1, d2, ...) × doc→source, normalized so (a,b) and (b,a)
    * land in one cell. `pairs` may be [[verifiedNearDupPairs]] output or
    * a [[loadVerifiedPairs]] frame — the two are row-identical by the
    * round-trip spec. */
  def contaminationFromPairs(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs.select(col("d1"), col("d2"))
      .join(src.select(col("doc_id").as("d1"), col("source").as("src1")), Seq("d1"))
      .join(src.select(col("doc_id").as("d2"), col("source").as("src2")), Seq("d2"))
      // order within the cell so (a,b) and (b,a) land in one bucket
      .select(least(col("src1"), col("src2")).as("source_a"),
        greatest(col("src1"), col("src2")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Persist the x46 accept set — the verify pass is the expensive leg
    * (gram pipeline + exact Jaccard over candidate shingles), and every
    * downstream consumer (x52's matrix, cluster builds, kill-lists) only
    * needs the four narrow columns. Same build-once discipline as the
    * BM25 postings / MinHash buckets / decontam grams+bloom; atomic
    * publish so readers never see a torn write. Caller contract: load
    * implies the same (n, maxDf, minInter, threshold) used to save. */
  def saveVerifiedPairs(docs: DataFrame, path: String, n: Int = 3,
                        maxDf: Int = 20, minInter: Int = 2,
                        jaccardThreshold: Double = 0.5,
                        hashGrams: Boolean = false): Unit =
    graft.core.DeltaIndex.publish(docs.sparkSession, path) { dir =>
      verifiedNearDupPairs(docs, n, maxDf, minInter, jaccardThreshold, hashGrams)
        .select(col("d1"), col("d2"),
          col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"))
        .write.mode("overwrite").parquet(dir)
    }

  /** The persisted x46 accept set, ready for [[contaminationFromPairs]]
    * or any other pair-level consumer. */
  def loadVerifiedPairs(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(graft.core.DeltaIndex.current(spark, path))

  // ----------------------------- prefix-filtered similarity join (x76)

  /** x76's threshold — DYADIC, so t·|x| is exact in double and the
    * prefix length and accept test cannot round differently across
    * engines. */
  private[graft] val PpJoinThreshold: Double = 0.5

  /** The COMPLETE exact set-similarity join via PREFIX FILTERING — the
    * fourth blocking strategy (inverted index x03/x46, signature
    * banding x02/x04, sorted neighborhood x64), and unlike the others
    * it is LOSSLESS: every pair with Jaccard ≥ t is returned, not just
    * pairs surviving a heuristic candidate gate. The classic prefix
    * principle (PPJoin family): order each document's gram set by one
    * GLOBAL total order (df asc, gram asc — rarest first), keep only
    * the first |x| − ⌈t·|x|⌉ + 1 grams; any pair with J ≥ t must share
    * a gram inside BOTH prefixes (if the first shared gram in global
    * order sat beyond x's prefix, ALL shared grams would fit in x's
    * ⌈t·|x|⌉−1 suffix slots — too few for J ≥ t; symmetrically for y),
    * so the prefix equi-join loses nothing and the exact verify
    * ([[jaccardVerify]], x46's integer-exact arithmetic) just confirms.
    *
    * Shape at scale: candidates join on PREFIX grams only — the rarest
    * ~(1−t) share of each document under the df order, so the join's
    * key-frequency distribution is the low-df tail by construction
    * (the skew the x03 maxDf cut fights never materializes) — then two
    * further LOSSLESS cuts ride before the expensive verify: the
    * length filter (in the join condition) and the positional
    * upper-bound filter (on the aggregated pair). Measured at sf0.1:
    * 8.1s bare → 6.5s with length → 4.1s with both, identical rows.
    * Completeness costs exactly one thing: no df cut may drop a gram,
    * so the df aggregate runs over all grams (two-phase, map-side
    * combined). */
  def ppJoinPairs(docs: DataFrame, n: Int = 3,
                  t: Double = PpJoinThreshold): DataFrame = {
    require(t > 0 && t <= 1, s"ppJoinPairs: t=$t")
    val sh = shingled(docs, n)
    val g = sh.select(col("doc_id"), explode(col("sh")).as("gram"))
    val dfc = g.groupBy(col("gram")).agg(count(lit(1)).as("_df"))
    val prefix = g.join(dfc, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("_df"), col("gram"))).as("_sg"))
      .select(col("doc_id"), size(col("_sg")).as("_n"),
        graft.functions.VectorFunctions.bindArray(
          transform(array_sort(col("_sg")), x => x.getField("gram"))) { arr =>
          slice(arr, lit(1),
            (size(arr) - ceil(lit(t) * size(arr)) + 1).cast("int"))
        }.as("_pref"))
    // LENGTH filter rides the candidate join (classic PPJoin, lossless:
    // J ≥ t forces t·|x| ≤ |y| ≤ |x|/t — union ≥ max, inter ≤ min);
    // t is dyadic so the double compares are exact
    // MERGE hint (the minhashLshPairs discipline): the prefix-gram
    // self-join's broadcast build side re-ran the entire shingle ->
    // df-agg -> prefix-slice pipeline; as a shuffle join both sides'
    // exchanges canonicalize identically and ReusedExchange computes
    // the pipeline once (guide §2.4) — a no-op at cluster scale where
    // the planner never broadcast this side to begin with.
    // Multi-core-count check (round 20, the r19 verdict's open trade):
    // fresh-JVM warm runs at sf0.1 measured hint 2.65s / cache 2.66s /
    // no-hint 2.85s at 8 cores and all three ~1.3s at 32 — the r19
    // 8-core 9.06s reading did not reproduce in six runs; the hint is
    // kept (marginally best, and a no-op at cluster scale where the
    // planner picks the shuffle join itself).
    val pg = prefix
      .select(col("doc_id"), col("_n"), posexplode(col("_pref")))
      .select(col("doc_id"), col("_n"), (col("pos") + 1).as("_p"), col("col").as("gram"))
      .hint("merge")
    val cand = pg.as("a").join(pg.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id") &&
          lit(t) * col("a._n") <= col("b._n") &&
          lit(t) * col("b._n") <= col("a._n"))
      .groupBy(col("a.doc_id").as("d1"), col("a._n").as("_na"),
        col("b.doc_id").as("d2"), col("b._n").as("_nb"))
      .agg(min(col("a._p")).as("_pa"), min(col("b._p")).as("_pb"))
      // POSITIONAL filter (lossless): the true overlap o is at most
      // 1 + min(|x| − pa, |y| − pb) for the earliest shared prefix gram
      // (everything before it on either side is unshared), and J ≥ t
      // needs o·(1+t) ≥ t·(|x|+|y|) — both sides exact for dyadic t.
      // (pa, pb are per-side minima, possibly from different grams —
      // a LOOSER ubound than the matched-pair positions, still sound.)
      .filter((lit(1) + least(col("_na") - col("_pa"), col("_nb") - col("_pb")))
        * lit(1 + t) >= lit(t) * (col("_na") + col("_nb")))
      .select(col("d1"), col("d2"))
    // the verify must not re-shingle the whole corpus twice: share the
    // (pair-bounded) candidate set within the plan and semi-join the
    // corpus down to candidate ids before the double-referenced shingle
    // subtree runs (the verifiedNearDupPairs discipline; semantics-free
    // — the verify joins are inner on candidate ids)
    val candIds = cand
      .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    graft.plans.Shared(jaccardVerify(cand,
      shingled(docs.join(candIds, Seq("doc_id"), "left_semi"), n), t), cand)
  }

  /** x76: the complete Jaccard-0.5 similarity join over 3-gram shingle
    * sets — oracle is the UNPRUNED brute-force join (every shared-gram
    * pair, exact intersection), which the prefix filter must reproduce
    * exactly (losslessness is the check, not just a spec). */
  def ppJoinQuery(spark: SparkSession, dir: String): DataFrame =
    ppJoinPairs(Tables.load(spark, dir, "documents"))
      .select(col("d1"), col("d2"),
        col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"))
      .orderBy(col("d1"), col("d2"))

  def contaminationQuery(spark: SparkSession, dir: String): DataFrame =
    contaminationMatrix(Tables.load(spark, dir, "documents"))
      .orderBy(col("source_a"), col("source_b"))

  // -------------------------------------------- cross-doc duplicated spans

  /** Positional word n-grams (duplicates kept) — every occurrence is a
    * candidate span. */
  def wordShinglesAll(text: Column, n: Int): Column =
    graft.functions.expressions.NativeExpressions
      .wordShinglesAll(TextAnalysis.wsTokens(text), n)

  /** (doc_id, n_spans, <countName>) report: total k-token spans per doc
    * plus a per-doc count of the positional grams surviving a semi-join
    * against `matchGrams` — the shared tail of dupSpans/decontaminate. */
  /** Total k-token spans of a document — shared by the span reports and
    * the streaming decontamination gate so the two faces cannot drift. */
  private[graft] def nSpansExpr(text: Column, k: Int): Column =
    greatest(size(TextAnalysis.wsTokens(text)) - (k - 1), lit(0)).cast("long")

  /** Distinct (gram-keyed) k-grams of a reference corpus — the probe
    * side shared by batch [[decontaminate]] and
    * [[graft.streaming.StreamingOps.decontaminateStream]]. */
  private[graft] def referenceGrams(reference: DataFrame, k: Int,
                                    hashGrams: Boolean): DataFrame =
    reference
      .select(explode(wordShingles(col("text"), k)).as("g"))
      .select(gramKey(col("g"), hashGrams).as("gram")).distinct()

  private def spanReport(docs: DataFrame, grams: DataFrame,
                         matchGrams: DataFrame, countName: String,
                         k: Int): DataFrame = {
    val perDoc = grams.join(matchGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as(countName))
    docs.select(col("doc_id"), nSpansExpr(col("text"), k).as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn(countName, coalesce(col(countName), lit(0L)))
  }

  private def positionalGrams(docs: DataFrame, k: Int,
                              hashGrams: Boolean): DataFrame =
    docs.select(col("doc_id"), explode(wordShinglesAll(col("text"), k)).as("g"))
      .select(col("doc_id"), gramKey(col("g"), hashGrams).as("gram"))

  /** Span-level duplication report: for each document, how many of its
    * k-token spans also occur in at least one OTHER document (the
    * "train-set memorization" dedup signal: docs with a high duplicated-
    * span share get their repeated spans cut or the whole doc dropped).
    *
    * Shape at scale: one explode, one hash aggregate keyed on the gram
    * (df counting, partial-agg collapses repeats), one semi-join back,
    * one per-doc count. No cross join anywhere; the df aggregate is the
    * same inverted-index shape as ngramCandidatePairs. The default keys
    * every shuffle on the raw gram string so the report is cross-engine
    * exact; `hashGrams = true` is the 100 TB form — same plan, 8-byte
    * shuffle keys (and AQE handles the hot-gram skew either way). */
  def dupSpans(docs: DataFrame, k: Int = 4,
               hashGrams: Boolean = false): DataFrame = {
    // "gram occurs in >= 2 distinct docs" ⟺ min(doc_id) != max(doc_id)
    // over the gram partition — window functions over ONE gram-keyed
    // exchange of the occurrence stream, replacing the former
    // count_distinct aggregate + semi-join pair that re-ran the whole
    // positional explode as the probe side (the x157 restructure; the
    // count keeps per-doc multiplicity exactly like the semi-join did).
    // Same hot-gram caveat as x157, documented there.
    val grams = positionalGrams(docs, k, hashGrams)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
    val perDoc = grams
      .withColumn("_mn", min(col("doc_id")).over(w))
      .withColumn("_mx", max(col("doc_id")).over(w))
      .filter(col("_mn") =!= col("_mx"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
    docs.select(col("doc_id"), nSpansExpr(col("text"), k).as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_dup_spans", coalesce(col("n_dup_spans"), lit(0L)))
  }

  def dupSpansQuery(spark: SparkSession, dir: String): DataFrame =
    dupSpans(Tables.load(spark, dir, "documents")).orderBy(col("doc_id"))

  /** Train/test decontamination: for each candidate training document,
    * how many of its k-token spans appear anywhere in a held-out
    * reference corpus (benchmark/eval set). Rows with n_hit_spans > 0
    * are contaminated and get dropped or span-scrubbed before training.
    *
    * Shape at scale: the reference side reduces to its DISTINCT grams
    * (small — eval sets are tiny next to training corpora) and the
    * probe is a semi-join; with a reference that fits in memory the
    * join broadcasts and the training corpus is never shuffled. */
  def decontaminate(candidates: DataFrame, reference: DataFrame,
                    k: Int = 4, hashGrams: Boolean = false): DataFrame =
    spanReport(candidates, positionalGrams(candidates, k, hashGrams),
      referenceGrams(reference, k, hashGrams), "n_hit_spans", k)

  /** Decontamination query: the src0/src1 slices stand in as the
    * held-out set; every other source is the training candidate pool. */
  def decontaminateQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val isRef = col("source").isin("src0", "src1")
    decontaminate(docs.filter(!isRef), docs.filter(isRef))
      .orderBy(col("doc_id"))
  }

  /** [[decontaminate]] with a Bloom prefilter on the candidate side —
    * the >memory form of the reference-grams probe. [[decontaminate]]
    * assumes the reference's distinct grams broadcast; once the held-out
    * corpus outgrows executor memory the exact semi-join must shuffle
    * BOTH sides, and at 100 TB the candidate side dominates that
    * exchange. Here the reference grams first fold into one ~numBits/8-
    * byte Bloom sketch (Spark's own `BloomFilterAggregate`, the runtime-
    * filter kernel, fed `xxhash64(gram)` exactly as `InjectRuntimeFilter`
    * feeds it), which rides into the probe as a scalar subquery —
    * evaluated once, shipped to every candidate partition with the task
    * closure; only bloom-POSITIVE candidate grams — true hits plus an
    * fpp sliver — enter the exact semi-join shuffle. No false negatives,
    * and the exact join clears false positives, so the report is
    * row-identical to [[decontaminate]] (same oracle SQL, spec-pinned)
    * while the shuffled candidate volume drops from every gram to
    * ~hit-rate + fpp of them. */
  def decontaminateBloom(candidates: DataFrame, reference: DataFrame,
                         k: Int = 4, hashGrams: Boolean = false,
                         expectedItems: Long = 1L << 20,
                         fpp: Double = 0.03): DataFrame = {
    val refGrams = referenceGrams(reference, k, hashGrams)
    decontaminateAgainst(candidates, refGrams,
      bloomOf(refGrams, expectedItems, fpp), k, hashGrams)
  }

  /** Optimal Bloom bit count for the target fpp (standard sizing). */
  private def bloomBits(expectedItems: Long, fpp: Double): Long = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"bloom sizing: expectedItems=$expectedItems fpp=$fpp")
    math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
  }

  /** 1-row (bf BINARY) sketch frame over a gram column. */
  private def bloomOf(refGrams: DataFrame, expectedItems: Long, fpp: Double): DataFrame =
    refGrams.agg(graft.functions.expressions.NativeExpressions
      .bloomFilterAgg(xxhash64(col("gram")), expectedItems, bloomBits(expectedItems, fpp))
      .as("bf"))

  /** The x55 plan against pre-materialized probe sides: bloom prefilter
    * (scalar subquery) → exact semi-join → span report. */
  private def decontaminateAgainst(candidates: DataFrame, refGrams: DataFrame,
                                   bloom: DataFrame, k: Int,
                                   hashGrams: Boolean): DataFrame = {
    import graft.functions.expressions.NativeExpressions.mightContainOf
    val prefiltered = positionalGrams(candidates, k, hashGrams)
      .filter(mightContainOf(bloom, xxhash64(col("gram"))))
    spanReport(candidates, prefiltered, refGrams, "n_hit_spans", k)
  }

  /** Persist a decontamination index: the reference corpus's distinct
    * grams (`<path>/grams`) plus their Bloom sketch (`<path>/bloom`) —
    * the build-once artifact of the x55 gate. Eval suites change on
    * human timescales while training batches arrive continuously, so
    * the gram pipeline over the reference should run ONCE and every
    * future batch should load KB..GB of parquet instead of re-exploding
    * the held-out corpus — the same persistence discipline as the BM25
    * postings, the MinHash bucket index, and the IVF codebook. The
    * sketch is built FROM the written grams, so the two files cannot
    * drift; the pair publishes as ONE generation
    * ([[graft.core.DeltaIndex.publish]]) so a failed save can never
    * leave new grams under a stale bloom — the one mix that would let
    * the prefilter produce false negatives. Caller contract: load with
    * the same (k, hashGrams) used to save. */
  def saveDecontamIndex(reference: DataFrame, path: String, k: Int = 4,
                        hashGrams: Boolean = false,
                        expectedItems: Long = 1L << 20,
                        fpp: Double = 0.03): Unit =
    graft.core.DeltaIndex.publish(reference.sparkSession, path) { dir =>
      referenceGrams(reference, k, hashGrams)
        .write.mode("overwrite").parquet(s"$dir/grams")
      val written = reference.sparkSession.read.parquet(s"$dir/grams")
      bloomOf(written, expectedItems, fpp)
        .write.mode("overwrite").parquet(s"$dir/bloom")
    }

  /** [[decontaminateBloom]] against a persisted index: row-identical to
    * the direct form for the same reference and (k, hashGrams)
    * (spec-asserted), with zero reference-corpus work per batch. */
  def decontaminateWithIndex(candidates: DataFrame, path: String, k: Int = 4,
                             hashGrams: Boolean = false): DataFrame = {
    val spark = candidates.sparkSession
    val root = graft.core.DeltaIndex.current(spark, path)
    decontaminateAgainst(candidates,
      spark.read.parquet(s"$root/grams"),
      spark.read.parquet(s"$root/bloom"), k, hashGrams)
  }

  /** x55: bloom-gated decontamination — same inputs, same report, same
    * oracle SQL as x16; only the plan differs (prefiltered probe). */
  def decontaminateBloomQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val isRef = col("source").isin("src0", "src1")
    decontaminateBloom(docs.filter(!isRef), docs.filter(isRef))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------- sorted-neighborhood blocking

  /** Sorted-neighborhood (SNM) near-dup pairs — the THIRD blocking
    * strategy next to the inverted index (x03/x46) and signature
    * banding (x02/x04): sort the corpus by a similarity-correlated key
    * (here the [[graft.functions.expressions.NormalizeText]] canonical
    * image, doc_id tie-broken), take every pair within `w` positions of
    * each other as a candidate, verify with exact Jaccard over the
    * word-shingle sets ([[jaccardVerify]], x46's arithmetic). SNM is
    * the blocking of choice when similarity concentrates in a sort
    * prefix (near-identical leading content, names, URLs): candidates
    * are exactly (w-1) × N regardless of any frequency skew — no hot
    * gram, no bucket collision pile-up — at the cost of missing pairs
    * that diverge early in the key.
    *
    * Shape at scale: the global order comes from [[Sampling.denseIds]]
    * (range shuffle + two-pass offsets — never a single-task window
    * sort); the neighborhood is an offset explode (j in 1..w-1) and an
    * equi-join on rank — uniform keys by construction; the verify is
    * candidate-pruned exactly like x46. */
  /** x64's neighborhood width, shared with the DuckDB oracle. */
  private[graft] val SnmWindow: Int = 8

  def sortedNeighborhoodPairs(docs: DataFrame, w: Int = SnmWindow, n: Int = 3,
                              jaccardThreshold: Double = 0.5): DataFrame = {
    require(w >= 2, s"sortedNeighborhoodPairs: w=$w (need >= 2)")
    // shared within the returned plan: the rank frame anchors BOTH sides
    // of the neighborhood equi-join, and the global range sort behind it
    // is the operator's expensive leg — recomputing it per reference
    // doubled the x64 cost (the verifiedNearDupPairs discipline; the
    // shared rows are (doc_id, rank), 16 bytes each).
    val ranked = Sampling.denseIds(
        docs.select(col("doc_id"),
          graft.functions.expressions.NativeExpressions
            .normalizeText(col("text")).as("_sk")),
        Seq(col("_sk"), col("doc_id")), "_rk")
      .select(col("doc_id"), col("_rk"))
    val cand = ranked.select(col("doc_id").as("_ida"), col("_rk").as("_ra"))
      .withColumn("_j", explode(sequence(lit(1), lit(w - 1))))
      .withColumn("_rb", col("_ra") + col("_j"))
      .join(ranked.select(col("doc_id").as("_idb"), col("_rk").as("_rb")), Seq("_rb"))
      .select(least(col("_ida"), col("_idb")).as("d1"),
        greatest(col("_ida"), col("_idb")).as("d2"))
    // NO candidate-id semi-join prune here (x46 keeps one): SNM pairs
    // every doc with its rank neighbors, so the candidate id set IS the
    // corpus whenever N >= 2 — the prune was the identity, at the price
    // of computing the whole candidate subtree a second time.
    graft.plans.Shared(jaccardVerify(cand, shingled(docs, n), jaccardThreshold), ranked)
  }

  /** x64: SNM-blocked verified near-dup pairs (x46's accept test over
    * sorted-neighborhood candidates). */
  def snmQuery(spark: SparkSession, dir: String): DataFrame =
    sortedNeighborhoodPairs(Tables.load(spark, dir, "documents"))
      .select(col("d1"), col("d2"),
        col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"))
      .orderBy(col("d1"), col("d2"))

  // ----------------------------- incremental exact dedup (x106)

  /** x106's corpus/batch split id (x91's discipline), shared with the
    * DuckDB twin. */
  private[graft] val DedupSplitId = 400L

  /** Persist a corpus's exact-dedup index — one (content key, keeper
    * id) row per DISTINCT text — the artifact a daily-append pipeline
    * deduplicates each new crawl batch against without ever rescanning
    * the corpus (x01 answers "dedup this corpus", offline; this is its
    * production face). Published atomically like every graft artifact.
    * The key is raw text here so the whole family stays cross-engine
    * exact; at 100 TB the index would store xxhash64(text) (x44's
    * 20-byte-key discipline) and be bucketed by it, making the batch
    * join a hash-key equi-join against a layout-aligned relation. */
  def saveDedupIndex(docs: DataFrame, path: String): Unit =
    graft.core.DeltaIndex.publish(docs.sparkSession, path) { dir =>
      docs.groupBy(col("text")).agg(min(col("doc_id")).as("keep_id"))
        .write.mode("overwrite").parquet(s"$dir/keys")
    }

  /** Load the current generation ([[graft.core.DeltaIndex.current]]). */
  def loadDedupIndex(spark: SparkSession, path: String): DataFrame = {
    val root = graft.core.DeltaIndex.current(spark, path)
    spark.read.parquet(s"$root/keys")
  }

  /** x106: deduplicate an arriving batch against a frozen corpus index
    * plus itself: a batch document is a `dup` if its content already
    * has a keeper — the corpus's (corpus keepers always win: they were
    * published first) or an earlier batch document's (min doc_id). The
    * `novel` flag marks each batch's first sighting of genuinely new
    * content — exactly the rows an index refresh appends.
    *
    * Shape: one hash aggregate over the batch + TWO equi-joins on the
    * content key (index-side and batch-keeper-side); batch cost is
    * O(batch keys), never O(corpus) — the point of the index. */
  def dedupAgainst(batch: DataFrame, index: DataFrame): DataFrame = {
    val batchKeepers = batch.groupBy(col("text"))
      .agg(min(col("doc_id")).as("_batch_keep"))
      .withColumnRenamed("text", "_ktext")
    // null-safe (<=>) joins: groupBy already treats NULL text as one
    // group, and an audit that silently loses null-content rows is not
    // an audit — null-text docs form their own dup family (min id
    // keeps), mirroring the streaming face's null-keyed state
    batch.select(col("doc_id"), col("text"))
      .join(index.select(col("text").as("_itext"),
        col("keep_id").as("_corpus_keep")),
        col("text") <=> col("_itext"), "left")
      .join(batchKeepers, col("text") <=> col("_ktext"))
      .select(col("doc_id"),
        coalesce(col("_corpus_keep"), col("_batch_keep")).as("keep_id"),
        when(col("doc_id") =!=
          coalesce(col("_corpus_keep"), col("_batch_keep")), 1L)
          .otherwise(0L).as("dup"),
        when(col("_corpus_keep").isNull &&
          col("doc_id") === col("_batch_keep"), 1L).otherwise(0L).as("novel"))
  }

  /** x106 queries() face: corpus = ids below the split, batch = the
    * rest with PLANTED collisions — id ≡ 0 (mod 3) takes the text of
    * doc id−400 (a corpus hit for ids < 800, an echo of another raw
    * text above), id ≡ 0 (mod 7, not 3) a shared synthetic text (two
    * within-batch dup families) — so corpus-hit, within-batch-dup and
    * novel verdicts all fire. The persisted-index path is spec-gated
    * (x55/x91 discipline); the oracle rebuilds the index in SQL. */
  def dedupIncrQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    val id = col("doc_id")
    val batch = base.filter(id >= DedupSplitId)
      .join(base.select((col("doc_id") + DedupSplitId).as("doc_id"),
        col("text").as("_etext")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(id % 3 === 0, col("_etext"))
          .when(id % 7 === 0,
            concat(lit("novel shared batch text "), (id % 2).cast("string")))
          .otherwise(col("text")).as("text"))
    val index = base.filter(id < DedupSplitId)
      .groupBy(col("text")).agg(min(col("doc_id")).as("keep_id"))
    dedupAgainst(batch, index).orderBy(col("doc_id"))
  }

  // --------------------------------- edit-distance verify (x100)

  /** x100's verify prefix length, shared with the DuckDB twin. The
    * distance is computed over the first `EditPrefix` characters of
    * the canonical image — bounding the O(m·n) DP cell count per pair
    * to a constant regardless of document length (the discipline that
    * keeps the verify affordable; a full-text distance on a 100 KB
    * doc pair is 10^10 cells). */
  private[graft] val EditPrefix: Int = 80

  /** x100: EDIT-DISTANCE VERIFIED near-dup pairs — the typo-level
    * verify tier under the set-overlap family: Jaccard over shingles
    * (x46/x64) is blind to single-character noise inside tokens
    * (OCR errors, mojibake, diff-sized typos), Levenshtein is exactly
    * that signal. Candidates come from the SAME sorted-neighborhood
    * frame as x64 (canonical-image sort, every pair within `w`
    * positions — (w-1)·N candidates, skew-immune by construction);
    * each candidate pair is then scored with the exact edit distance
    * between the two canonical-prefix images, plus the integer accept
    * verdict `10·dist ≤ max(len_a, len_b)` (≤10% of the longer prefix
    * edited — float-free, engine-exact).
    *
    * Emitting EVERY candidate with its distance (not just accepts) is
    * deliberate: the distance distribution is how a pipeline tunes the
    * threshold, and the all-candidates shape keeps the output size at
    * the known (w-1)·N bound.
    *
    * Scale shape: rank from [[Sampling.denseIds]] (range shuffle, no
    * single-task window), candidates by offset equi-join on rank, one
    * text equi-join to attach prefixes, then a map-only `levenshtein`
    * over codegen — no quadratic term anywhere. */
  def editDistancePairs(docs: DataFrame, w: Int = SnmWindow,
                        prefix: Int = EditPrefix): DataFrame = {
    require(w >= 2, s"editDistancePairs: w=$w (need >= 2)")
    val keyed = docs.select(col("doc_id"),
      substring(graft.functions.expressions.NativeExpressions
        .normalizeText(col("text")), 1, prefix).as("_pfx"))
    // the rank frame CARRIES the prefix, so the neighborhood equi-join
    // on rank delivers both operands directly — no join back to the
    // text afterwards (the prefix is a bounded 80-char payload, cheaper
    // to shuffle once alongside the rank than to re-attach with two
    // more doc_id-keyed joins); shared within the returned plan because
    // both join sides read it — recomputing the global range sort per
    // reference doubled the x100 cost (the x64 discipline, rows ≤ 96
    // bytes each)
    val ranked = Sampling.denseIds(keyed,
      Seq(col("_pfx"), col("doc_id")), "_rk")
    val cand = ranked.select(col("doc_id").as("_ida"),
        col("_pfx").as("_pa"), col("_rk").as("_ra"))
      .withColumn("_j", explode(sequence(lit(1), lit(w - 1))))
      .withColumn("_rb", col("_ra") + col("_j"))
      .join(ranked.select(col("doc_id").as("_idb"),
        col("_pfx").as("_pb"), col("_rk").as("_rb")), Seq("_rb"))
    // dist and the accept test are symmetric in (_pa, _pb), so the
    // least/greatest id normalization never has to swap the operands
    graft.plans.Shared(cand.select(least(col("_ida"), col("_idb")).as("d1"),
        greatest(col("_ida"), col("_idb")).as("d2"),
        levenshtein(col("_pa"), col("_pb")).cast("long").as("dist"),
        when(levenshtein(col("_pa"), col("_pb")) * 10
          <= greatest(length(col("_pa")), length(col("_pb"))), 1L)
          .otherwise(0L).as("near")), ranked)
  }

  /** x100: the queries() face — SNM candidates scored with exact
    * prefix edit distance. */
  def editPairsQuery(spark: SparkSession, dir: String): DataFrame =
    editDistancePairs(Tables.load(spark, dir, "documents"))
      .orderBy(col("d1"), col("d2"))

  // --------------------------------------- near-dup cluster assignment

  /** Connected components by hash-min label propagation with pointer
    * jumping: every node starts labeled with its own id; each round a
    * node adopts the minimum label among itself and its neighbors
    * (hash-min), then compresses one level of label indirection
    * (label ← label-of-label, i.e. path halving). At fixpoint the label
    * is the component's minimum node id: any edge whose endpoints still
    * disagreed would change the larger side, so an unchanged full round
    * proves per-edge label equality, hence component-constant labels.
    *
    * Shape at scale: only nodes incident to an edge enter the loop —
    * in a near-dup graph the singleton majority never shuffles and is
    * labeled with itself by one final left join. Each round is two
    * equi-joins plus a min-aggregate, all keyed on node id (uniform);
    * pointer jumping halves remaining path lengths every round, so
    * rounds are O(log diameter) instead of O(diameter) on chain-shaped
    * components. A checkpoint after each round cuts lineage so the plan
    * stays constant-size across iterations, and each round's blocks are
    * unpersisted once the next round is materialized (the loop holds at
    * most two rounds of state, not O(log d)).
    *
    * Lineage-cut durability: the default `localCheckpoint` stores blocks
    * on executors with lineage truncated — right for tests and local
    * mode, but on a real cluster losing one executor mid-iteration kills
    * the job unrecoverably. Long multi-executor runs should pass
    * `checkpointDir = Some(reliable dir)` (HDFS/object store): rounds
    * then checkpoint through `Dataset.checkpoint`, which survives
    * executor loss. Reliable checkpoint files are reclaimed by
    * `spark.cleaner.referenceTracking.cleanCheckpoints` or by dropping
    * the directory after the job.
    *
    * @param nodes single-column DF `id`; @param edges two-column DF
    * `src`,`dst` (undirected; either orientation). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 50,
                          checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsWithRounds(nodes, edges, maxIter, checkpointDir)._1

  /** [[connectedComponents]] plus the number of label-propagation rounds
    * executed — exposed so specs can assert the O(log diameter) bound. */
  private[graft] def connectedComponentsWithRounds(
      nodes: DataFrame, edges: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    graft.core.IterUtil.ensureCheckpointDir(nodes.sparkSession, checkpointDir)
    def cut(df: DataFrame): DataFrame =
      graft.core.IterUtil.cut(df, checkpointDir.isDefined)
    def free(df: DataFrame): Unit = graft.core.IterUtil.free(df)
    val p = nodes.sparkSession.sessionState.conf.numShufflePartitions
    // The edge frame is PINNED to hash(src, p) and persisted (local
    // mode) so every round's message join reads it exchange-free: a
    // lineage cut's ExistingRDD reports Unknown partitioning under AQE
    // (measured on x39 — each round then re-shuffles the edges, the
    // LARGEST frame in the loop), while an InMemoryRelation preserves
    // the pinned partitioning. The reliable path keeps the durable cut
    // (its per-round edge exchange is the price of surviving executor
    // loss). Only the loop's own actions read it; it is released when
    // the loop ends, converged or not.
    val reliable = checkpointDir.isDefined
    val bidir = graft.core.IterUtil.pin(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(p, col("src")), reliable)
    // `cp` is the checkpointed handle of the current round (what free()
    // unpersists — a projection over it would not expose the LogicalRDD);
    // `labels` is the two-column view the joins consume.
    var converged = false
    var iter = 0
    var labels: DataFrame = null
    try {
      var cp = cut(bidir.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label")))
      labels = cp
      // ONE hash-min + path-halving round over a label frame: returns
      // (id, label, changed-this-round). The labels exchange (hash(id)) is
      // planned once and REUSED by the m-join (identical subtree); the
      // message aggregation keeps its map-side partial agg below its own
      // exchange, whose hash(dst, p) output already satisfies `m`'s join
      // distribution.
      def round(lbl: DataFrame): DataFrame = {
        val msgs = bidir.join(lbl, bidir("src") === lbl("id"))
          .groupBy(col("dst")).agg(min(col("label")).as("nbr"))
          .withColumnRenamed("dst", "id")
        val m = lbl.join(msgs, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
            (coalesce(col("nbr"), col("label")) < col("label")).as("ch"))
        m.as("a")
          .join(m.select(col("id").as("lid"), col("label").as("llabel")).as("b"),
            col("a.label") === col("b.lid"), "left")
          .select(col("a.id").as("id"),
            coalesce(col("b.llabel"), col("a.label")).as("label"),
            (col("a.ch") ||
              coalesce(col("b.llabel"), col("a.label")) < col("a.label")).as("changed"))
      }
      // Round-20 REJECTED experiment, kept for the record: fusing TWO
      // rounds into one materialized step (convergence on the second
      // round's changed flag — sound, a round is a no-op exactly on
      // fixpoints) was measured at sf0.1 as 73→124 jobs, 2.3→6.2 shuffle
      // MB, 3.2→7.0 s on x14: round 2 references round 1's output four
      // ways (two message-join sides, two pointer-jump sides), Catalyst
      // does not dedupe the multiply-referenced join subtree, and AQE
      // exchange reuse only recovers the exchanges themselves — the
      // un-exchanged m-join work above them re-executed per reference.
      // One materialization per round keeps every round computed once.
      while (!converged && iter < maxIter) {
        // LAZY cut + in-round convergence: the max(changed) aggregate is
        // the action that materializes (and persists) the round, so each
        // round is ONE computation — one job on the localCheckpoint path;
        // on the reliable path cutLazy persists before the checkpoint
        // write so the extra write job reads cache, never recomputes
        // (VERDICT r5 item 6, ADVICE r6 item 5).
        val step = graft.core.IterUtil.cutLazy(round(labels), checkpointDir.isDefined)
        val anyChanged = step.agg(max(col("changed"))).head()
        converged = anyChanged.isNullAt(0) || !anyChanged.getBoolean(0)
        free(cp)
        cp = step
        labels = step.select(col("id"), col("label"))
        iter += 1
      }
    } finally graft.core.IterUtil.unpin(bidir, reliable) // the result reads only the final labels
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    val out = nodes.select(col("id"))
      .join(labels.withColumnRenamed("label", "edge_label"), Seq("id"), "left")
      .select(col("id"), coalesce(col("edge_label"), col("id")).as("label"))
    (out, iter)
  }

  /** Near-dup cluster per document: components of the n-gram candidate
    * graph (same parameters as x03), singletons cluster with themselves. */
  def dupClustersQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val edges = ngramCandidatePairs(docs)
      .select(col("d1").as("src"), col("d2").as("dst"))
    connectedComponents(docs.select(col("doc_id").as("id")), edges)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Winner selection — the step AFTER near-dup clustering: per cluster
    * keep the best-scoring member (ties broken by smallest doc_id, so
    * the choice is total and partition-stable). `clusters` is
    * (doc_id, cluster_id) (e.g. [[connectedComponents]] output), `scores`
    * maps doc_id to a quality column. One shuffle on cluster_id; the
    * row_number window and the member-count aggregate share that
    * partitioning. A pathological mega-cluster serializes through one
    * partition's sort — the same skew axis clustering itself already has.
    */
  def canonicalPerCluster(clusters: DataFrame, scores: DataFrame,
                          scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      // desc_nulls_last: an unscored member can win only if NO member of
      // its cluster is scored (then lowest id) — never over a scored one
      .orderBy(col(scoreCol).desc_nulls_last, col("doc_id"))
    // LEFT join: a member missing from `scores` still counts in
    // n_members and still participates (with a null score) — the join
    // never silently shrinks a cluster
    clusters.join(scores, Seq("doc_id"), "left")
      .withColumn("_rn", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(max(when(col("_rn") === 1, col("doc_id"))).as("keep_id"),
        count(lit(1)).as("n_members"))
  }

  /** x31: canonical doc per x14 near-dup cluster, best = most whitespace
    * tokens (TextAnalysis.qualitySignals n_tokens), tie → lowest id. */
  def canonicalQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val edges = ngramCandidatePairs(docs)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val clusters = connectedComponents(docs.select(col("doc_id").as("id")), edges)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val scores = docs.select(col("doc_id"),
      size(TextAnalysis.wsTokens(col("text"))).as("n_tokens"))
    canonicalPerCluster(clusters, scores, "n_tokens")
      .orderBy(col("cluster_id"))
  }

  // --------------------------------------------------------- MinHash LSH

  /** MinHash signature: for each of numHashes seeded hash functions, the
    * minimum XXH64 over the doc's shingle set. Native expression — the
    * equivalent transform/array_min/xxhash64 composition is interpreted
    * per lambda element and measured ~20x slower at sf0.1. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.expressions.NativeExpressions.minhashSignature(shingles, numHashes)

  /** LSH banding: split the signature into bands of `rowsPerBand`, hash
    * each band → (band_idx, band_sig) bucket keys. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(concat_ws(",", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))), b).as("bsig")))

  /** Shingled view of a corpus: (doc_id, sh) with empty-shingle docs
    * dropped (shared by signature build and exact-Jaccard verify). */
  private def shingled(docs: DataFrame, n: Int): DataFrame =
    Parallel.fanOut(docs)
      .select(col("doc_id"), wordShingles(col("text"), n).as("sh"))
      .filter(size(col("sh")) > 0)

  /** LSH bucket rows (doc_id, band, bsig) — the PERSISTABLE MinHash
    * index of a corpus: write these three narrow columns to parquet
    * (partitioned/bucketed by (band, bsig) at scale) and later batches
    * dedup against them via [[minhashIncrementalPairs]] without ever
    * touching the old corpus's signatures again. The streaming face of
    * the same index is
    * [[graft.streaming.StreamingOps.minhashNearDupStream]]. */
  def minhashBuckets(docs: DataFrame, n: Int = 3, bands: Int = 16,
                     rowsPerBand: Int = 4): DataFrame =
    shingled(docs, n)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.bindArray(
          minhashSignature(col("sh"), bands * rowsPerBand))(
          sig => lshBands(sig, bands, rowsPerBand)).as("bandkeys"))
      .select(col("doc_id"), explode(col("bandkeys")).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bsig").as("bsig"))

  /** Exact-Jaccard verification of candidate (d1, d2) pairs against the
    * shingle sets in `sh` — integer-exact threshold test
    * (inter/uni >= t  <=>  inter >= t*uni, no float division). */
  private def jaccardVerify(cand: DataFrame, sh: DataFrame,
                            jaccardThreshold: Double): DataFrame = {
    val sh1 = sh.select(col("doc_id").as("d1"), col("sh").as("sh1"))
    val sh2 = sh.select(col("doc_id").as("d2"), col("sh").as("sh2"))
    cand.join(sh1, "d1").join(sh2, "d2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("uni", size(col("sh1")) + size(col("sh2")) - col("inter"))
      .filter(col("inter").cast("double") >= lit(jaccardThreshold) * col("uni").cast("double"))
      .select(col("d1"), col("d2"), col("inter"), col("uni"))
  }

  /** MinHash+LSH near-dup pairs, verified with exact Jaccard over the
    * shingle sets. numHashes = bands * rowsPerBand. Candidates come from
    * an equi-join on bucket keys (shuffle on buckets, never a cross join);
    * the exact-Jaccard verify join only touches candidate pairs. */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, bands: Int = 16,
                      rowsPerBand: Int = 4, jaccardThreshold: Double = 0.5): DataFrame = {
    // MERGE hint on the bucket self-join: a broadcast build side is a
    // SEPARATE physical subtree, so the whole scan -> shingle -> 64-hash
    // signature pipeline used to run once per side; a shuffle join's two
    // exchanges canonicalize identically and collapse to ONE map stage
    // via ReusedExchange (guide §2.4) — the signature is computed once
    // at every scale (at 100 TB the planner picks SMJ anyway; the hint
    // only removes the local-mode double build).
    val buckets = minhashBuckets(docs, n, bands, rowsPerBand).hint("merge")
    // the candidate pairs feed the id prune AND the verify join — shared
    // within the returned plan
    val cand = buckets.as("a").join(buckets.as("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
    // prune the corpus to candidate ids BEFORE the verify re-shingles it
    // (the verifiedNearDupPairs discipline): the exact-Jaccard join only
    // ever keeps candidate ids, so the semi-join is semantics-free and
    // the double-referenced shingle subtree is O(candidate docs), not
    // O(corpus)
    val candIds = cand
      .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    graft.plans.Shared(jaccardVerify(cand,
      shingled(docs.join(candIds, Seq("doc_id"), "left_semi"), n),
      jaccardThreshold), cand)
  }

  /** Incremental near-dup: pairs of a NEW batch against an already-
    * indexed corpus, plus pairs within the batch itself — so appending
    * batch after batch while writing each batch's [[minhashBuckets]]
    * into the index keeps the dedup'd corpus exactly what a full
    * [[minhashLshPairs]] over everything would produce (spec-proven
    * equivalence), without ever re-signing old documents. `corpusDocs`
    * supplies the text for the exact-Jaccard verify of CANDIDATES only
    * (the candidate set is tiny next to the corpus, and the verify join
    * prunes to exactly those ids — at 100 TB this is a semi-join-shaped
    * point lookup, not a corpus rescan). Document ids must be globally
    * unique across corpus and batch (the same contract every incremental
    * pipeline already has); pairs come out canonicalized d1 < d2. */
  def minhashIncrementalPairs(batch: DataFrame, corpusIndex: DataFrame,
                              corpusDocs: DataFrame, n: Int = 3, bands: Int = 16,
                              rowsPerBand: Int = 4,
                              jaccardThreshold: Double = 0.5): DataFrame = {
    val bb = minhashBuckets(batch, n, bands, rowsPerBand)
    val cross = corpusIndex.as("a").join(bb.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
    val internal = bb.as("a").join(bb.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    val cand = cross.union(internal).distinct()
    // prune the corpus to candidate ids BEFORE shingling — the verify
    // must not re-shingle 100 TB of already-indexed text; after the
    // semi-join only the (tiny) candidate set's documents are tokenized
    val candIds = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2").as("doc_id"))).distinct()
    val corpusHits = corpusDocs.select(col("doc_id"), col("text"))
      .join(candIds, Seq("doc_id"), "left_semi")
    val sh = shingled(corpusHits.unionByName(batch.select(col("doc_id"), col("text"))), n)
    jaccardVerify(cand, sh, jaccardThreshold)
  }

  def minhashQuery(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairs(Tables.load(spark, dir, "documents"))
      .orderBy(col("d1"), col("d2"))

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash over whitespace tokens, materialized as 4 x 16-bit
    * chunks (long-safe under ANSI arithmetic, and the natural shape for
    * pigeonhole banding). Bit i of the fingerprint is the sign of
    * sum over tokens of ±1, where the ± comes from the token's
    * xxhash64 seeded with i (64 independent hash bits — standard
    * SimHash with a per-bit hash family). */
  def simhashChunks(text: Column): Column =
    graft.functions.expressions.NativeExpressions.simhashChunks(TextAnalysis.wsTokens(text))

  def simhashQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), simhashChunks(col("text")).as("ch"))
      .select(col("doc_id"),
        element_at(col("ch"), 1).as("c0"), element_at(col("ch"), 2).as("c1"),
        element_at(col("ch"), 3).as("c2"), element_at(col("ch"), 4).as("c3"))
      .orderBy(col("doc_id"))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, using
    * 4x16-bit chunk banding (pigeonhole: any pair within distance 3 agrees
    * on at least one chunk) — candidates from bucket equi-joins only. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // pigeonhole over 4 chunks guarantees candidate generation only up to
    // distance 3; a larger threshold would silently lose recall.
    require(maxHamming <= 3,
      s"4-chunk banding guarantees recall only for maxHamming <= 3, got $maxHamming")
    // zero-token guard (mirrors minhashLshPairs's size(sh) > 0): every
    // empty/whitespace doc hashes to the same all-zero chunks, so without
    // this filter they all pair with each other and that one bucket's
    // equi-join degenerates quadratically.
    val hashed = docs
      .filter(size(TextAnalysis.wsTokens(col("text"))) > 0)
      .select(col("doc_id"), simhashChunks(col("text")).as("ch"))
    val chunks = hashed.select(col("doc_id"), col("ch"),
        posexplode(col("ch")).as(Seq("chunk", "ckey")))
    val hamming = (1 to 4).map(i =>
      bit_count(element_at(col("a.ch"), i).bitwiseXOR(element_at(col("b.ch"), i))))
      .reduce(_ + _)
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"), hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------- dup-cluster size histogram (x133)

  /** x133: EXACT-DUPLICATE CLUSTER-SIZE HISTOGRAM — how many identical-
    * content groups exist at each size, with the doc and removable-dup
    * mass per size. The dedup savings CURVE (x01 decides per doc, x107
    * attributes per source; this answers "is duplication a few huge
    * families or a long tail of pairs?" — which decides whether exact
    * dedup alone pays or near-dup tiers are needed). Keys on md5(text)
    * in BOTH engines (the x44 hashed-shuffle-key discipline): the
    * shuffle carries 32-hex keys, never documents, and the aggregate
    * collapses to |distinct sizes| rows. All-integer. */
  def dupSizeHistogram(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("k"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("group_size"), col("n_groups"),
        (col("group_size") * col("n_groups")).as("n_docs"),
        ((col("group_size") - 1) * col("n_groups")).as("removable_dups"))

  def dupSizeHistogramQuery(spark: SparkSession, dir: String): DataFrame =
    dupSizeHistogram(Tables.load(spark, dir, "documents"))
      .orderBy(col("group_size"))

  // --------------------------------- effective token mass (x136)

  /** x136: EFFECTIVE TOKEN MASS under exact dedup — per source, the
    * raw token count next to the dedup-discounted count where every
    * doc in an identical-content family of size k contributes 1/k of
    * its tokens (so each distinct CONTENT counts its tokens once, with
    * the credit split over the copies' sources). The mixture-weighting
    * input after dedup: a source that is 90% copies of another feed
    * keeps its raw volume but almost no effective mass. Family sizes
    * key on md5(text) (the x44/x133 hashed-shuffle discipline).
    *
    * Determinism: 1/k is one correctly-rounded double division pinned
    * at 6 into DECIMAL(18,6); tokens·(1/k) is an exact decimal product
    * summed exactly, emitted DOUBLE.
    *
    * Shape: one scan → (key) family sizes (hash agg on 32-hex keys) →
    * join back → per-source rollup; documents shuffle once, as hashes. */
  def effectiveTokens(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), md5(col("text")).as("k"),
      size(graft.operators.TextAnalysis.wsTokens(col("text"))).cast("long")
        .as("n_tokens"))
    val fam = toks.groupBy(col("k")).agg(count(lit(1)).as("fam"))
    toks.join(fam, Seq("k"))
      .select(col("source"), col("n_tokens"),
        (col("n_tokens") *
          round(lit(1.0) / col("fam").cast("double"), 6)
            .cast("decimal(18,6)")).as("eff"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens_raw"),
        sum(col("eff")).cast("double").as("tokens_effective"))
  }

  def effectiveTokensQuery(spark: SparkSession, dir: String): DataFrame =
    effectiveTokens(Tables.load(spark, dir, "documents"))
      .orderBy(col("source"))

  // ----------------------------------- line-grain dedup rewrite (x139)

  /** x139 constants, shared with the DuckDB twin. */
  private[graft] val LineTokens: Int = 10
  private[graft] val LineDupMin: Long = 3L

  /** x139: LINE-LEVEL DEDUP WITH REASSEMBLY — the CCNet-style cleaning
    * cut that REWRITES documents instead of scoring them: each document
    * splits into consecutive [[LineTokens]]-token lines, a line whose
    * corpus-wide occurrence count reaches [[LineDupMin]] is boilerplate
    * (navigation chrome, license headers, templated intros) and is
    * dropped EVERYWHERE, and each document reassembles from its
    * surviving lines in order. x89 measures boilerplate share; x01/x46
    * drop whole documents; this is the middle grain — the document
    * survives, its repeated furniture doesn't.
    *
    * Output is the audit grain: per doc the line counts, the surviving
    * token count, and md5 of the reassembled text (the content key
    * downstream exact-dedup consumes) — narrow enough to shuffle, and
    * cross-engine exact. Lines key on raw text here (oracle face); the
    * 100 TB form keys the frequency aggregate on xxhash64(line)
    * ([[gramKey]]'s discipline) so the one corpus-sized shuffle carries
    * 8-byte keys.
    *
    * Shape: one scan → positional line explode (bounded: ~n_tokens/L
    * rows per doc) → line-frequency hash agg → join back → per-doc
    * ordered reassembly (collect_list over ≤ lines-per-doc rows). */
  /** The fixed-width line chunking shared by the batch face, the index
    * builder, and the streaming gate: consecutive `lineTokens`-token
    * lines of `text`, in order (empty array for token-less text). */
  private[graft] def lineChunks(text: Column, lineTokens: Int): Column =
    graft.functions.VectorFunctions.bindArray(TextAnalysis.wsTokens(text)) { w =>
      val nLines = ceil(size(w) / lit(lineTokens.toDouble)).cast("long")
      when(nLines > 0,
        transform(sequence(lit(0L), nLines - 1),
          i => array_join(
            slice(w, (i * lineTokens + 1).cast("int"), lit(lineTokens)), " ")))
        .otherwise(array().cast("array<string>"))
    }

  def lineDedup(docs: DataFrame, lineTokens: Int = LineTokens,
                dupMin: Long = LineDupMin): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(lineChunks(col("text"), lineTokens)))
      .toDF("doc_id", "idx", "line")
    val freq = lines.groupBy(col("line")).agg(count(lit(1)).as("c"))
    val per = lines.join(freq, Seq("line"))
      .select(col("doc_id"), col("idx"), col("line"),
        (col("c") < dupMin).as("kept"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("kept"), struct(col("idx"), col("line"))))),
          s => s.getField("line"))).as("out"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        size(TextAnalysis.wsTokens(coalesce(col("out"), lit(""))))
          .cast("long").as("n_tokens_kept"),
        md5(coalesce(col("out"), lit(""))).as("out_key"))
  }

  def lineDedupQuery(spark: SparkSession, dir: String): DataFrame =
    lineDedup(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  // ------------------------- within-doc line repetition (x154)

  /** x154: WITHIN-DOCUMENT DUPLICATE-LINE SIGNALS — the published
    * "duplicate line fraction" rule grain (Rae et al. 2021 table A1)
    * sitting between x12's token/2-gram multiplicity and x139's
    * CORPUS-level boilerplate cut: per document, how many of its own
    * [[lineChunks]] lines repeat inside the document and how much token
    * mass the repeats beyond each first occurrence carry — the spam/
    * template signature (a scraped page that repeats its nav block five
    * times scores five dup lines here while x139 only fires if the
    * block recurs across the corpus). All exact BIGINTs; fractions are
    * consumer arithmetic (the x12 contract).
    *
    * Shape: the signal is PER-DOCUMENT, so it never leaves the row — the
    * doc's lines sort IN-ROW (sort_array) and duplicates are adjacent-
    * equal runs: one narrow projection, NO shuffle at all (explode +
    * (doc, line) re-aggregate would shuffle the whole corpus to compute
    * a quantity each row already holds). O(L log L) per doc via the
    * sort — never the O(L²) per-element rescan (the x151 lesson). Like
    * x147/x148 the projection IS its own streaming face, and at 100 TB
    * it fuses into whatever scan consumes it. */
  def lineRepetition(docs: DataFrame, lineTokens: Int = LineTokens): DataFrame =
    docs.select(col("doc_id"), lineRepSig(lineTokens).as("_s"))
      .select(col("doc_id") +: lineRepFinalCols("_s"): _*)

  /** x154's in-row signal struct and its null-to-zero unpacking,
    * shared verbatim with the x163 fused panel (identity by
    * construction). The signal is the native one-loop
    * [[graft.functions.expressions.LineRepStats]] kernel — formerly an
    * interpreted lineChunks transform → sort_array → two neighbor
    * filter() lambdas → aggregate() fold that re-tokenized every
    * repeated line; bit-for-bit equality with that composition is
    * spec-gated (ExtrasSpec "x154 native kernel"). */
  private[graft] def lineRepSig(lineTokens: Int): Column =
    graft.functions.expressions.NativeExpressions.lineRepStats(
      TextAnalysis.wsTokens(col("text")), lineTokens)

  private[graft] def lineRepFinalCols(sig: String): Seq[Column] = Seq(
    coalesce(col(s"$sig.n_lines"), lit(0L)).as("n_lines"),
    coalesce(col(s"$sig.n_dup_lines"), lit(0L)).as("n_dup_lines"),
    coalesce(col(s"$sig.dup_tokens"), lit(0L)).as("dup_tokens"))

  /** The x154 queries() face: the synthetic corpus has no within-doc
    * repeats, so the face PLANTS them deterministically (the x97
    * discipline — the DuckDB twin rebuilds the same corpus): docs with
    * id ≡ 0 (mod 6) get their own first [[LineTokens]] tokens PREPENDED
    * — exactly one line width, so line 2 (the original first line)
    * equals line 1 and every later line keeps its original alignment.
    * Everything else is the zero-dup negative. */
  def lineRepetitionQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val first = concat_ws(" ",
      slice(TextAnalysis.wsTokens(col("text")), 1, LineTokens))
    val planted = docs.withColumn("text",
      when(col("doc_id") % 6 === 0 && col("text").isNotNull,
        concat_ws(" ", first, col("text"))).otherwise(col("text")))
    lineRepetition(planted).orderBy(col("doc_id"))
  }

  /** Persist x139's BOILERPLATE LINE SET — the lines a reference corpus
    * repeats at least `dupMin` times — as the artifact a live ingestion
    * gate scrubs against ([[graft.streaming.StreamingOps.lineDedupStream]]).
    * Same atomic-publish discipline as the dedup keeper index / decontam
    * grams. Narrow by construction: boilerplate is the REPEATED tail of
    * the line distribution, not the corpus. */
  def saveLineIndex(docs: DataFrame, path: String,
                    lineTokens: Int = LineTokens,
                    dupMin: Long = LineDupMin): Unit =
    graft.core.DeltaIndex.publish(docs.sparkSession, path) { dir =>
      docs.select(explode(lineChunks(col("text"), lineTokens)).as("line"))
        .groupBy(col("line")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= dupMin)
        .select(col("line"))
        .write.mode("overwrite").parquet(s"$dir/lines")
    }

  def loadLineIndex(spark: SparkSession, path: String): DataFrame = {
    val root = graft.core.DeltaIndex.current(spark, path)
    spark.read.parquet(s"$root/lines")
  }

  // --------------------------------- dedup threshold sweep (x144)

  /** x144 sweep grid (percent), shared with the DuckDB twin. */
  private[graft] val SweepThresholds: Seq[Int] = Seq(50, 55, 60, 65, 70,
    75, 80, 85, 90, 95, 100)

  /** x144: the DEDUP THRESHOLD SWEEP — from one verified-pair table
    * (x46's exact inter/uni counts), how many pairs survive each
    * candidate Jaccard threshold: the pick-your-threshold curve a
    * curator reads before committing to a dedup cut (too low merges
    * near-misses, too high leaves templated copies). Each test is the
    * exact integer inequality inter·100 ≥ t·uni — no float boundary —
    * and the whole sweep is ONE pass over the pair table (pairs are
    * small by construction; the grid is a literal explode).
    *
    * A pipeline that persisted the x46 pairs ([[saveVerifiedPairs]])
    * sweeps the artifact in sub-second time instead of re-verifying. */
  def thresholdSweep(pairs: DataFrame,
                     thresholds: Seq[Int] = SweepThresholds): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t => t >= 0 && t <= 100),
      s"thresholdSweep: bad grid $thresholds")
    val spark = pairs.sparkSession
    import spark.implicits._
    val grid = thresholds.map(_.toLong).toDF("threshold_pct")
    pairs.select(col("inter").cast("long").as("inter"),
        col("uni").cast("long").as("uni"))
      .crossJoin(broadcast(grid))
      .groupBy(col("threshold_pct"))
      .agg(sum(when(col("inter") * 100 >= col("threshold_pct") * col("uni"), 1L)
        .otherwise(0L)).as("n_pairs"))
  }

  def thresholdSweepQuery(spark: SparkSession, dir: String): DataFrame =
    thresholdSweep(verifiedNearDupPairs(Tables.load(spark, dir, "documents")))
      .orderBy(col("threshold_pct"))

  // -------------------------------- contamination excision (x151)

  /** x151: CONTAMINATION EXCISION — decontamination by SPAN REWRITE
    * instead of document drop: every token covered by any k-gram that
    * appears in the reference set is cut, and the document reassembles
    * from what survives (the Llama-style move that keeps a 10k-token
    * document which quotes one benchmark item, where x16/x18 would
    * discard it whole). The span semantics are exactly x16's hit
    * grain — a hit at gram start g condemns tokens [g, g+k−1], and
    * overlapping hits union. x139 cuts corpus-repeated furniture; this
    * cuts benchmark text; both emit the audit grain (counts + md5 of
    * the rebuilt text, never the payload).
    *
    * Shape: reference grams are a distinct aggregate (benchmark-grain,
    * small); the candidate gram stream semi-joins it (x16's plan —
    * broadcast-friendly, corpus never shuffles for the probe); hit
    * starts explode to ≤ k dropped positions each and collect into ONE
    * position set per contaminated doc (hit-grain, bounded by
    * contamination volume, not corpus size); the cut itself is a
    * filter-with-index INSIDE the document row after a doc-grain join
    * of that set — the corpus is never exploded to token grain for the
    * rewrite (a per-(doc, pos) anti-join would shuffle every token in
    * the corpus to drop a handful). Clean docs join nothing and pass
    * through a null set.
    *
    * Null-text documents are DROPPED, in this face and the streaming one
    * ([[graft.streaming.StreamingOps.exciseStream]]) alike: there is no
    * text to rewrite, and the live face (which rebuilds from the text it
    * ingested) could only ever emit a placeholder — agreeing on "absent"
    * keeps replay == batch row-for-row (spec-asserted). */
  def exciseContamination(candidates: DataFrame, reference: DataFrame,
                          k: Int = 4): DataFrame = {
    val refg = reference
      .select(explode(wordShingles(col("text"), k)).as("gram")).distinct()
    val cand = candidates.filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("w"))
    val dropped = cand
      .select(col("doc_id"), posexplode(
        graft.functions.expressions.NativeExpressions
          .wordShinglesAll(col("w"), k)))
      .toDF("doc_id", "g", "gram")
      .join(refg, Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("g"), col("g") + (k - 1))).as("p"))
      .groupBy(col("doc_id"))
      // sorted ONCE per doc at the aggregate so the per-token membership
      // probe below can binary-search: a fully-contaminated doc probes
      // |w| positions against a |w|-sized set — linear array_contains is
      // |w|² there (the pathological bound flagged in r14), the sorted
      // kernel is |w| log |w|. Bit-identical to the array_contains form
      // (spec-asserted)
      .agg(sort_array(collect_set(col("p"))).as("dp"))
    cand.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        coalesce(size(col("dp")), lit(0)).cast("long").as("n_dropped"),
        md5(concat_ws(" ",
          filter(col("w"), (_, i) =>
            !graft.functions.expressions.NativeExpressions.sortedArrayContains(
              coalesce(col("dp"), lit(Array.empty[Int])), i)))).as("out_key"))
  }

  /** The x151 queries() face: x16's reference convention (src0/src1
    * held out), rewrite everything else. */
  def exciseQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val isRef = col("source").isin("src0", "src1")
    exciseContamination(docs.filter(!isRef), docs.filter(isRef))
      .orderBy(col("doc_id"))
  }

  // --------------------------------- corpus self-excision (x157)

  /** x157: EXACT-SUBSTRING SELF-DEDUP — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * suffix-array move re-expressed at k-gram grain: every k-token
    * span that occurs MORE THAN ONCE ANYWHERE in the corpus (across
    * documents or inside one) is cut from every occurrence EXCEPT the
    * globally first (lexicographic min over (doc_id, position) — an
    * exact struct argmin, collision-free for any document length and
    * any doc_id range), and each document
    * reassembles from what survives. This closes the dedup family's
    * remaining gap: x01/x44 drop whole exact copies, x02/x46 drop
    * whole near-copies, x151 cuts spans found in an EXTERNAL
    * reference, x13 [[dupSpans]] only COUNTS self-duplicated spans — x157
    * is the rewrite that keeps exactly one copy of every repeated
    * passage corpus-wide (boilerplate headers, licence blocks, quoted
    * chain mail) while preserving each document's unique remainder.
    *
    * Shape at scale: one positional-gram explode → ONE gram-keyed
    * exchange → per-gram count + keeper argmin as window functions over
    * that exchange (the occurrence stream is consumed once; the former
    * aggregate+join-back pair recomputed the whole explode pipeline per
    * reference) → hit-grain position sets per doc → the x151 in-row
    * rewrite (sorted position set + binary-search filter inside the
    * document row; the corpus is never exploded to token grain for the
    * cut). `hashGrams = true` is the 100 TB form: identical plan,
    * 8-byte shuffle keys (x44's carrier discipline — collisions can
    * only over-cut a span pair in 2^-64, which the default never
    * does). */
  def selfExcise(docs: DataFrame, k: Int = 4,
                 hashGrams: Boolean = false): DataFrame = {
    require(k > 0, s"selfExcise: k=$k")
    // The tokenized doc frame is referenced THREE times in the returned
    // plan (the occurrence explode feeds both the dup aggregate's build
    // side and the join-back probe side, and the final reassembly joins
    // it again) and Catalyst does not dedupe multiply-referenced
    // subtrees — unshared, the corpus scan + tokenize ran three times
    // per action (plan-verified: 3 parquet scans); it is shared within
    // the returned plan. At 100 TB this projection is materialized once
    // per release (the saveRepeatedSpanSet artifact discipline), not
    // recomputed per leg.
    val cand = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("w"))
    val occ = cand
      .select(col("doc_id"), posexplode(
        graft.functions.expressions.NativeExpressions
          .wordShinglesAll(col("w"), k)))
      .toDF("doc_id", "g", "gram")
      .select(col("doc_id"), col("g"),
        gramKey(col("gram"), hashGrams).as("gram"))
    val oid = struct(col("doc_id"), col("g"))
    // Per-gram count + keeper as WINDOW functions over ONE gram-keyed
    // exchange of the occurrence stream, replacing the former
    // aggregate-then-join-back pair: the occurrence pipeline (explode +
    // key hash) ran once as the aggregate's input and AGAIN as the
    // join's probe side (Catalyst does not dedupe the two references,
    // and the partial aggregation below the build-side exchange makes
    // the two exchanges non-reusable). Same-process A/B at 32 AND 8
    // cores: window 0.67-0.84 s vs join 1.20-1.62 s at sf0.1. Trade
    // documented: a pathologically hot gram lands on one window task
    // (AQE skew-split applies to joins only) — at that scale the
    // per-release [[saveRepeatedSpanSet]] artifact face is the
    // operative form, and the window row is 3 small ints, not text.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
    val dropped = occ
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("keep_oid", min(oid).over(w))
      .filter(col("cnt") >= 2 && oid =!= col("keep_oid"))
      .select(col("doc_id"),
        explode(sequence(col("g"), col("g") + (k - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("p"))).as("dp"))
    graft.plans.Shared(cand.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        coalesce(size(col("dp")), lit(0)).cast("long").as("n_dropped"),
        md5(concat_ws(" ",
          filter(col("w"), (_, i) =>
            !graft.functions.expressions.NativeExpressions.sortedArrayContains(
              coalesce(col("dp"), lit(Array.empty[Int])), i)))).as("out_key")),
      cand)
  }

  def selfExciseQuery(spark: SparkSession, dir: String): DataFrame =
    selfExcise(Tables.load(spark, dir, "documents")).orderBy(col("doc_id"))

  /** Persist x157's REPEATED-SPAN SET — the k-grams the corpus contains
    * more than once — as the artifact a live ingestion gate excises
    * arriving documents against: the frozen corpus already keeps its
    * first occurrence of every repeated span, so a NEW document quoting
    * any of them is by construction never the keeper and the whole
    * matching span cuts. The live face is
    * [[graft.streaming.StreamingOps.exciseStream]] UNCHANGED — same
    * `grams` layout as [[saveDecontamIndex]], one gate, two indexes
    * (benchmark text vs corpus boilerplate). The frozen-index gate
    * equals batch [[selfExcise]] ONLY for spans already repeated
    * within the frozen corpus (spec-asserted on exactly that set):
    * spans that duplicate a corpus-UNIQUE passage, or repeat only
    * between arriving documents, are outside the frozen index by
    * construction and pass uncut — recompute the index (or run batch
    * selfExcise over corpus ∪ arrival) to catch those. Narrow by
    * construction: the index is the repeated TAIL of the span
    * distribution, not the corpus. Published atomically. */
  def saveDupSpanIndex(docs: DataFrame, path: String, k: Int = 4): Unit =
    graft.core.DeltaIndex.publish(docs.sparkSession, path) { dir =>
      positionalGrams(docs.filter(col("text").isNotNull), k,
          hashGrams = false)
        .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select("gram")
        .write.mode("overwrite").parquet(s"$dir/grams")
    }
}
