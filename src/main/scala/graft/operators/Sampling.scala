package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Deterministic corpus sampling, train/val/test splitting, per-source
  * mixing, and sequence packing — the assembly stage of a training-data
  * pipeline (north-star extras; the reference engine has no counterpart,
  * these extend it per the build contract).
  *
  * Everything keys off one primitive: a 32-bit hash bucket derived from
  * `md5(key ":" salt)`. Unlike `rand(seed)` — whose stream is assigned
  * per-partition, so the SAME row flips decisions whenever partitioning
  * changes — the hash decision is a pure function of the row's key:
  * stable across runs, cluster sizes, AQE re-plans, and engines (DuckDB
  * computes the identical bucket, so every operator here is
  * oracle-checked cell-exactly). Two corollaries a 100 TB pipeline
  * leans on: decisions are reproducible incrementally (new data joins
  * an existing split without reshuffling old assignments), and samples
  * at increasing rates are NESTED (`bucket < r1*2^32` implies
  * `bucket < r2*2^32` for r1 <= r2), so a 1% pilot corpus is a strict
  * subset of the 10% run.
  *
  * Scale shape: split/mix are pure codegen'd projections/filters — zero
  * shuffle, zero state, trivially linear. Packing shuffles once on the
  * shard key and windows within shards (no global window — see
  * [[packSequences]]).
  */
object Sampling {

  /** 2^32 — the bucket space of [[hashBucket]]. */
  val BucketSpace: Double = 4294967296.0

  /** 32-bit hash bucket in [0, 2^32): the first 8 hex chars of
    * `md5(key ":" salt)` read as an unsigned int. DuckDB twin:
    * `('0x' || substr(md5(key || ':salt'), 1, 8))::BIGINT`. Null key
    * yields null bucket. */
  def hashBucket(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast("string"), lit(":" + salt))), 1, 8), 16, 10)
      .cast("long")

  /** Deterministic keep-decision at `rate` (a [0,1] fraction; may be a
    * per-row column, e.g. a per-source weight). The comparison is
    * against `rate * 2^32` in DOUBLE on both engines — identical IEEE
    * arithmetic, identical decisions. */
  def keepAtRate(key: Column, salt: String, rate: Column): Column =
    hashBucket(key, salt) < rate * lit(BucketSpace)

  /** Assign each row a named split by cumulative hash ranges:
    * `fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`
    * sends bucket/2^32 in [0, 0.8) to train, [0.8, 0.9) to val, and the
    * REMAINDER (everything from 0.9 up, absorbing rounding) to the last
    * split. Fractions must be positive and sum to <= 1 + epsilon; a
    * null key gets a null split (not silently the last bucket). */
  def assignSplit(key: Column, salt: String,
                  fractions: Seq[(String, Double)]): Column = {
    require(fractions.nonEmpty, "at least one split required")
    require(fractions.forall(_._2 > 0), s"non-positive split fraction in $fractions")
    require(fractions.map(_._2).sum <= 1.0 + 1e-9,
      s"split fractions exceed 1: $fractions")
    val bucket = hashBucket(key, salt)
    val cums = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    val start: Column = when(key.isNull, lit(null).cast("string"))
    fractions.init.zip(cums.init)
      .foldLeft(start) { case (acc, ((name, _), cum)) =>
        acc.when(bucket < lit(cum * BucketSpace), name)
      }
      .otherwise(fractions.last._1)
  }

  /** Filter to a deterministic per-source mix: each source is kept at
    * its weight from `rateBySource` (sources absent from the map use
    * `defaultRate`). The weights table is a literal CASE chain — at
    * realistic source counts (tens to thousands) this stays a pure
    * zero-shuffle projection; beyond that use [[mixCorpusWeighted]],
    * the broadcast-join form of the same decision.
    *
    * `sourceCol` names the column the rate lookup keys on (default
    * `source`, which the frame must then contain). */
  def mixCorpus(docs: DataFrame, key: Column, salt: String,
                rateBySource: Map[String, Double],
                defaultRate: Double = 1.0,
                sourceCol: Column = col("source")): DataFrame = {
    val rate = rateBySource.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
        when(sourceCol === src, lit(r)).otherwise(acc)
      }
    docs.filter(keepAtRate(key, salt, rate))
  }

  /** Broadcast-join form of [[mixCorpus]] for weights tables too large
    * for a literal CASE chain (beyond ~10^3 sources): `weights` is a
    * (source, rate) DataFrame, broadcast and left-joined onto the fact
    * side — the fact table never shuffles, so the plan is still one
    * narrow pass at 100 TB. Decision-identical to the literal form for
    * the same (key, salt, rates): both compare the same hash bucket
    * against rate * 2^32 in double (spec-asserted). Sources absent from
    * `weights` fall back to `defaultRate`; a duplicate-keyed weights
    * table is malformed input (it would fan out fact rows) and is
    * rejected up front — the weights side is small by contract, so the
    * eager uniqueness check is one cheap job. */
  def mixCorpusWeighted(docs: DataFrame, key: Column, salt: String,
                        weights: DataFrame, defaultRate: Double = 1.0,
                        sourceCol: Column = col("source")): DataFrame = {
    val w = weights.select(col("source").as("_mix_source"), col("rate").as("_mix_rate"))
    require(w.groupBy(col("_mix_source")).count().filter(col("count") > 1).isEmpty,
      "mixCorpusWeighted: duplicate sources in the weights table")
    docs
      .join(broadcast(w), sourceCol === col("_mix_source"), "left")
      .filter(keepAtRate(key, salt, coalesce(col("_mix_rate"), lit(defaultRate))))
      .drop("_mix_source", "_mix_rate")
  }

  /** Upsample each source to a fractional EPOCH count — the >1x form of
    * the corpus mix (LLM data schedules routinely repeat high-quality
    * sources 2-4x while down-weighting bulk crawl; the x20/x22 mix can
    * only express rates <= 1). Weight w emits floor(w) full copies of
    * every doc plus ONE extra copy for the hash-deterministic fraction
    * frac(w) of docs — so expected token mass per source is exactly w
    * epochs, and the output carries a stable `copy` ordinal in
    * [0, ceil(w)) that downstream shuffling/seeding can key on.
    *
    * Scale shape: a pure narrow codegen'd projection — the copy fan-out
    * is `explode(sequence(...))` per row with bounded length ceil(w);
    * zero shuffle, zero state, decisions a pure function of (key, salt)
    * like every operator here (nested, append-stable, engine-checked).
    * The fractional decision intentionally reuses [[keepAtRate]]: the
    * extra-copy subset at frac(w)=r is the SAME subset x20 would keep
    * at rate r under the same salt. */
  def upsampleEpochs(docs: DataFrame, key: Column, salt: String,
                     epochsBySource: Map[String, Double],
                     defaultEpochs: Double = 1.0,
                     sourceCol: Column = col("source")): DataFrame = {
    require(epochsBySource.values.forall(_ >= 0) && defaultEpochs >= 0,
      s"upsampleEpochs: negative epoch weight in $epochsBySource / $defaultEpochs")
    val w = epochsBySource.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultEpochs)) { case (acc, (src, r)) =>
        when(sourceCol === src, lit(r)).otherwise(acc)
      }
    // floor(double) is BIGINT in Spark SQL; frac stays a pure double op
    // (w - floor(w)) so DuckDB's FLOOR(double)->double twin computes the
    // bit-identical IEEE fraction.
    val n = floor(w) + when(keepAtRate(key, salt, w - floor(w)), lit(1L))
      .otherwise(lit(0L))
    docs
      .withColumn("_n_copies", n)
      .filter(col("_n_copies") > 0) // sequence() rejects empty bounds
      .withColumn("copy",
        explode(sequence(lit(0L), col("_n_copies") - 1, lit(1L))))
      .drop("_n_copies")
  }

  /** Deterministic stratified sample: EXACTLY `n` rows per stratum (all
    * rows when the stratum is smaller), chosen as the stratum's n
    * smallest hash buckets — so like every operator here the selection
    * is a pure function of (key, salt): engine/partitioning-stable,
    * reproducible, and stable under appends EXCEPT that a new row whose
    * bucket enters the stratum's bottom-n evicts its largest bucket
    * (exact-count sampling cannot be append-monotone; use [[keepAtRate]]
    * when nested/incremental samples matter more than exact counts).
    *
    * Determinism contract: `key` must uniquely identify rows WITHIN a
    * stratum — the sort is (bucket, key), so rows sharing a key value
    * have no total order and which one survives a cutoff tie would fall
    * back to partition order (exactly the instability everything else
    * here rules out). With unique keys the selection is total.
    *
    * Scale shape: one shuffle on the stratum key, then a per-stratum
    * sort for row_number. A hot stratum serializes through one
    * partition's sort — fine for the typical "n per source/lang" audit
    * sample; for huge strata swap the window for a bounded-heap top-n
    * aggregator over (bucket, key) (the [[graft.functions.TopKAggregator]]
    * pattern x05 uses), which partial-aggregates map-side. */
  def stratifiedSample(rows: DataFrame, stratum: Column, key: Column,
                       salt: String, n: Int): DataFrame = {
    require(n > 0, s"stratifiedSample: n=$n")
    val w = Window.partitionBy(stratum).orderBy(hashBucket(key, salt), key)
    rows.withColumn("_strat_rn", row_number().over(w))
      .filter(col("_strat_rn") <= n)
      .drop("_strat_rn")
  }

  /** Greedy sequence packing: assign documents to fixed-token-budget
    * training bins. Docs are packed in doc_id order by running token
    * count; a document lands in the bin its STARTING offset falls in
    * (`floor((cum - n_tokens) / budget)`), the standard streaming-fill
    * rule — bins may overflow by at most one document, and a document
    * longer than the budget occupies its own bin(s) worth of offset.
    *
    * Scale shape: a GLOBAL running sum would serialize 100 TB through
    * one window partition — instead docs are sharded by `doc_id %
    * shards` and packed within shards (pack ids are disjoint across
    * shards: `shard * 2^40 + bin`). One shuffle on the shard key,
    * each window sorts only its shard; raise `shards` with the corpus.
    * Token counts are whitespace tokens ([[TextAnalysis.wsTokens]]),
    * swap in a real tokenizer's counts column at will.
    *
    * Id disjointness bound: the 2^40 shard stride keeps pack ids
    * collision-free up to 2^40 bins per shard (~10^12 — a trillion
    * budget-sized bins, i.e. ~2*10^15 tokens PER SHARD at the default
    * budget, far past a 100 TB corpus even on one shard) and 2^22
    * shards (required; `shard * 2^40 + bin` stays within positive Long
    * up to 2^23 shards — the factor-2 margin absorbs bin overflow
    * rather than wrapping ids negative). */
  val ShardStride: Long = 1L << 40

  def packSequences(docs: DataFrame, budget: Long = 2000L,
                    shards: Int = 32): DataFrame = {
    require(budget > 0 && shards > 0, s"budget=$budget shards=$shards")
    require(shards <= (1 << 22), s"shards=$shards exceeds the 2^22 id-space bound")
    val base = docs.select(
      col("doc_id"),
      size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens"),
      (col("doc_id") % shards).as("shard"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    base
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("n_tokens"), col("shard"),
        (col("shard") * lit(ShardStride) +
          floor((col("cum") - col("n_tokens")) / lit(budget.toDouble))).as("pack_id"))
  }

  /** Dense contiguous ids 0..N-1 in `order` — WITHOUT the single-partition
    * global sort that `row_number() OVER (ORDER BY ...)` compiles to. The
    * scalable shape: range-repartition on the order keys (each partition
    * holds a contiguous key range), sort within partitions, then
    * `zipWithIndex` — which runs one count-per-partition job, turns the
    * counts into cumulative start offsets, and assigns
    * `offset + local index` in a second pass. The shuffle output written
    * by the count job is REUSED by the assignment job (same RDD lineage →
    * same shuffle dependency), so both passes see identical partition
    * boundaries even though range boundaries come from sampling.
    *
    * Cost honesty: the shuffle WRITE happens once, but the post-shuffle
    * in-partition sort runs in BOTH jobs (the count job must drain the
    * sorted iterator; nothing is cached between the jobs — re-sorting is
    * CPU only, where caching would hold a corpus-sized copy).
    *
    * Contract: `order` must be a TOTAL order (unique tie-breaker last) —
    * with ties the ids within a tie group fall back to partition order,
    * the instability every operator here rules out. Null ordering is
    * Spark's default (nulls first, ascending).
    *
    * This is the one operator in this file built on the RDD API: the
    * per-partition offset+index assignment is genuinely imperative, and
    * no Catalyst operator expresses "global row number without a global
    * sort". Cost at 100 TB: one range shuffle + one O(partitions) count
    * job — vs. the window form's one-partition sort of the entire corpus. */
  def denseIds(df: DataFrame, order: Seq[Column], idCol: String = "dense_id",
               numPartitions: Int = 0): DataFrame = {
    require(order.nonEmpty, "denseIds: at least one order column required")
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(p, order: _*).sortWithinPartitions(order: _*)
    val base = sorted.rdd
    val schema = org.apache.spark.sql.types.StructType(sorted.schema.fields :+
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = base.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Grouped INCLUSIVE prefix sum of a LONG column in (`group`, `order`)
    * order — WITHOUT the per-group total-order sort that
    * `sum() OVER (PARTITION BY group ORDER BY order)` compiles to. The
    * window form shuffles every group into ONE task and sorts it there;
    * with a handful of giant groups (per-source corpus scans are exactly
    * that) the biggest group's task is the job. This is the distributed
    * prefix-scan instead: range-partition on (group, order) — a group
    * spans a RUN of consecutive partitions, each task holds a contiguous
    * slice — then two passes over the SAME shuffle output
    * ([[denseIds]]' two-job discipline): job 1 reduces each partition to
    * its per-group local totals (O(partitions × groups-per-partition)
    * rows to the driver — group counts, not data); the driver turns
    * totals into per-(partition, group) start offsets; job 2 re-reads
    * the sorted partitions and emits `offset + running local sum`.
    *
    * Contract: `valueCol` LONG (cast upstream; null adds 0), (`group`,
    * `order`) a total order (ties fall back to partition order — same
    * caveat as [[denseIds]]). Null group keys form their own group.
    * Result is spec-asserted identical to the window form. */
  def prefixSum(df: DataFrame, group: Seq[String], order: Seq[Column],
                valueCol: String, outCol: String = "cum",
                numPartitions: Int = 0): DataFrame =
    prefixScan(df, group, order, valueCol, outCol, numPartitions)._1

  /** [[prefixSum]] plus each group's total (keyed by the group values in
    * `group` order) — the driver already holds them after job 1, so a
    * caller that needs per-group sizes next to the running sums reads
    * them here instead of aggregating its input a second time. */
  private[graft] def prefixScan(df: DataFrame, group: Seq[String], order: Seq[Column],
                                valueCol: String, outCol: String,
                                numPartitions: Int): (DataFrame, Map[List[Any], Long]) = {
    require(order.nonEmpty, "prefixSum: at least one order column required")
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    val keys = group.map(col) ++ order
    val sorted = df.repartitionByRange(p, keys: _*).sortWithinPartitions(keys: _*)
    val base = sorted.rdd
    val schema = sorted.schema
    val gIdx = group.map(schema.fieldIndex).toArray
    val vIdx = schema.fieldIndex(valueCol)
    def groupKey(r: org.apache.spark.sql.Row): List[Any] = gIdx.map(r.get).toList
    def valueOf(r: org.apache.spark.sql.Row): Long =
      if (r.isNullAt(vIdx)) 0L else r.getLong(vIdx)
    // job 1: per-partition per-group totals (tiny — one row per run of a
    // group inside a partition; a group spans ≤ partitions runs).
    val totals: Array[(Int, List[Any], Long)] = base
      .mapPartitionsWithIndex { (pid, it) =>
        val acc = scala.collection.mutable.LinkedHashMap.empty[List[Any], Long]
        it.foreach { r => val k = groupKey(r); acc(k) = acc.getOrElse(k, 0L) + valueOf(r) }
        acc.iterator.map { case (k, v) => (pid, k, v) }
      }.collect()
    // driver: exclusive per-(partition, group) offsets in partition order
    val offsets: Map[(Int, List[Any]), Long] = {
      val run = scala.collection.mutable.HashMap.empty[List[Any], Long]
      totals.sortBy(_._1).map { case (pid, k, v) =>
        val off = run.getOrElse(k, 0L)
        run(k) = off + v
        ((pid, k), off)
      }.toMap
    }
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val outSchema = org.apache.spark.sql.types.StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(outCol,
        org.apache.spark.sql.types.LongType, nullable = false))
    // job 2: same shuffle output, running local sums + broadcast offsets
    val rdd = base.mapPartitionsWithIndex { (pid, it) =>
      val run = scala.collection.mutable.HashMap.empty[List[Any], Long]
      it.map { r =>
        val k = groupKey(r)
        val cum = run.getOrElse(k, bOffsets.value.getOrElse((pid, k), 0L)) + valueOf(r)
        run(k) = cum
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ cum)
      }
    }
    val groupTotals = totals.groupMapReduce(_._2)(_._3)(_ + _)
    (spark.createDataFrame(rdd, outSchema), groupTotals)
  }

  /** Per-group 1-based row_number over a total (`group`, `order`) order —
    * WITHOUT the single-task-per-group sort that
    * `row_number() OVER (PARTITION BY group ORDER BY order)` compiles
    * to: the rank IS the grouped inclusive [[prefixSum]] of the
    * constant 1, so one monster group spans a run of range partitions
    * instead of funneling through one reducer. Same contract as
    * prefixSum: `order` must be a total order within each group. */
  def groupedRanks(df: DataFrame, group: Seq[String], order: Seq[Column],
                   outCol: String = "rk", numPartitions: Int = 0): DataFrame =
    prefixSum(df.withColumn("_graft_one", lit(1L)), group, order,
        "_graft_one", outCol, numPartitions)
      .drop("_graft_one")

  // ------------------------------------ per-epoch training order (x141)

  /** x141's epoch count, shared with the DuckDB twin. */
  private[graft] val EpochCount: Int = 3

  /** x141: PER-EPOCH TRAINING ORDER — for each of E epochs, a full
    * deterministic permutation of the corpus: rank within epoch over
    * (md5(doc:ord:epoch), doc_id). The data-order randomization every
    * trainer needs (seeing docs in the same order each epoch biases
    * optimization) made REPRODUCIBLE: the permutation is a pure
    * function of (doc_id, epoch), so any worker can recompute any
    * epoch's order without coordination, and a resumed run continues
    * from the same order a fresh run would have produced.
    *
    * Shape: the rank comes from [[groupedRanks]] — a range partition
    * on (epoch, key) plus the two-job grouped prefix scan — NOT
    * `row_number() OVER (PARTITION BY epoch ORDER BY ...)`, which
    * funnels each epoch's ENTIRE corpus through one task. */
  def epochOrder(docs: DataFrame, epochs: Int = EpochCount,
                 numPartitions: Int = 0): DataFrame = {
    require(epochs > 0, s"epochOrder: epochs=$epochs")
    val keyed = docs.select(col("doc_id"))
      .withColumn("epoch", explode(sequence(lit(0L), lit(epochs - 1L))))
      .withColumn("k", md5(concat(col("doc_id").cast("string"),
        lit(":ord:"), col("epoch").cast("string"))))
    groupedRanks(keyed, Seq("epoch"), Seq(col("k"), col("doc_id")), "ord",
        numPartitions)
      .select(col("epoch"), col("doc_id"), col("ord"))
  }

  def epochOrderQuery(spark: SparkSession, dir: String): DataFrame =
    epochOrder(Tables.load(spark, dir, "documents"))
      .orderBy(col("epoch"), col("ord"))

  // --------------------------------------- pack manifest (x143)

  /** x143: the PACK MANIFEST — x21's bin assignment rolled to pack
    * grain: per pack its member count, total tokens, and the member
    * doc ids with their exclusive token OFFSETS inside the packed
    * sequence (doc-boundary indices — what the dataloader and the
    * x110-style attention-mask builder actually consume). Offsets are
    * exact integer prefix sums in doc_id order; the id/offset lists
    * are emitted as comma-joined strings (cross-engine-stable cell
    * encoding; an array output column has no portable hash image).
    *
    * Shape: x21's windowed bin assignment, one more window partitioned
    * by pack_id (high-cardinality key — packs hold a handful of docs,
    * so per-partition state is bounded by the token budget), one
    * pack-grain aggregate. */
  def packManifest(docs: DataFrame, budget: Long = 2000L,
                   shards: Int = 32): DataFrame = {
    val packed = packSequences(docs, budget, shards)
    val w = Window.partitionBy(col("pack_id")).orderBy(col("doc_id"))
    packed
      .withColumn("off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("doc_id"), col("off")))),
          s => s.getField("doc_id").cast("string"))).as("doc_ids"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("doc_id"), col("off")))),
          s => s.getField("off").cast("string"))).as("offsets"))
  }

  def packManifestQuery(spark: SparkSession, dir: String): DataFrame =
    packManifest(Tables.load(spark, dir, "documents"))
      .orderBy(col("pack_id"))

  /** Greedy per-source token-budget selection: walk each source's docs
    * in doc_id order, keep documents while the tokens consumed BEFORE
    * the doc are under `budget` (so the budget-crossing doc is kept —
    * the standard fill-then-overflow cut that never emits a truncated
    * corpus slot). The running total comes from [[prefixSum]], so no
    * source is ever sorted inside one task; the keep decision is then a
    * pure projection. Emits every doc with its running total and keep
    * flag — the caller filters `kept` (the report shape keeps the
    * operator oracle-checkable end to end). */
  def tokenBudget(docs: DataFrame, budget: Long,
                  numPartitions: Int = 0): DataFrame = {
    require(budget > 0, s"tokenBudget: budget=$budget")
    val base = docs.select(col("doc_id"), col("source"),
      size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens"))
    prefixSum(base, Seq("source"), Seq(col("doc_id")), "n_tokens", "cum_tokens",
        numPartitions)
      .withColumn("kept", col("cum_tokens") - col("n_tokens") < budget)
  }

  /** Bounded-heap form of [[stratifiedSample]] — the huge-strata scale
    * path its scaladoc points at. Same selection (the stratum's n smallest
    * (bucket, key) pairs), different plan: a TopKAggregator keeps an O(n)
    * heap per stratum and PARTIAL-AGGREGATES map-side, so a stratum's
    * shuffle traffic is O(partitions * n) rows instead of every row, and
    * nothing ever sorts a whole stratum. The picked (stratum, key) pairs
    * then semi-join back to the input for the full rows — small side is
    * |strata| * n rows, typically broadcast.
    *
    * `keyCol` must be a NON-NULL LONG column uniquely identifying rows
    * within a stratum (the heap carries (score, id) pairs); a null
    * stratum is fine and forms its own stratum, same as the window form.
    * [[stratifiedSample]] remains the general-key form. Result-identical to it for the same
    * (stratum, key, salt, n) — spec-asserted, and x37 runs the x26 oracle
    * SQL verbatim. */
  def stratifiedSampleAgg(rows: DataFrame, stratum: Column, keyCol: String,
                          salt: String, n: Int): DataFrame = {
    require(n > 0, s"stratifiedSampleAgg: n=$n")
    val topn = udaf(new graft.functions.TopKAggregator(n))
    // lowest bucket must win and the heap keeps HIGHEST score → negate.
    // Buckets are < 2^32 so the negated double is exact; heap ties
    // (equal score) prefer the smaller id — same (bucket, key) asc order
    // as the window form.
    val picks = rows
      .select(stratum.as("_strat"),
        negate(hashBucket(col(keyCol), salt).cast("double")).as("_score"),
        col(keyCol).cast("long").as("_k"))
      .groupBy(col("_strat"))
      .agg(topn(col("_score"), col("_k")).as("_top"))
      .select(col("_strat"), explode(col("_top.id")).as("_k"))
    // null-SAFE stratum compare: the window form treats a null stratum as
    // its own partition, so the heap form must join those rows back too
    // (a plain === would null out and silently drop the whole stratum)
    rows.join(picks,
      stratum <=> col("_strat") && col(keyCol).cast("long") === col("_k"),
      "left_semi")
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * each row draws a deterministic uniform u = (bucket+1)/2^32 ∈ (0,1]
    * from its (key, salt) hash and scores `pow(u, 1/weight)`; the sample
    * is the n highest scores — which selects each row with probability
    * proportional to its weight, without replacement. Weights must be
    * strictly positive (enforced by filter: non-positive-weight rows are
    * ineligible by definition, not an error).
    *
    * Scale shape: a pure projection plus a global top-n, which compiles
    * to TakeOrderedAndProject (per-partition bounded top-n, driver merge
    * of partitions × n rows) — no global sort, no window. Determinism:
    * u is exact (dyadic denominator), 1/weight and pow are single
    * correctly-rounded-to-~1ulp ops on both engines; a cross-engine
    * order flip would need two scores within 1 ulp, which the unique-key
    * tie-breaker makes astronomically unlikely on non-adversarial data
    * (same double-compare discipline as [[keepAtRate]]). */
  def weightedSample(rows: DataFrame, key: Column, salt: String,
                     weight: Column, n: Int): DataFrame = {
    require(n > 0, s"weightedSample: n=$n")
    val u = (hashBucket(key, salt) + lit(1L)).cast("double") / lit(BucketSpace)
    rows.filter(weight > 0)
      .withColumn("_aes", pow(u, lit(1.0) / weight.cast("double")))
      .orderBy(col("_aes").desc, key)
      .limit(n)
      .drop("_aes")
  }

  /** Per-group [[weightedSample]]: the n highest A-ES scores WITHIN each
    * group — weighted sampling without replacement per source/shard/
    * stratum, the mixing-with-quality-weights primitive. Same score
    * arithmetic as the global form; the per-group top-n runs on the
    * bounded [[graft.functions.TopKAggregator]] heap (map-side partial
    * aggregation, O(partitions × n) shuffle rows per group — same scale
    * shape as [[stratifiedSampleAgg]], which is this operator's
    * uniform-weight special case). `keyCol`: NON-NULL LONG, unique within
    * a group; a null group forms its own group. Non-positive-weight rows
    * are ineligible. Heap ties (equal score) prefer the smaller key —
    * the `ORDER BY score DESC, key ASC` window order. */
  def weightedSamplePerGroup(rows: DataFrame, group: Column, keyCol: String,
                             salt: String, weight: Column, n: Int): DataFrame = {
    require(n > 0, s"weightedSamplePerGroup: n=$n")
    val topn = udaf(new graft.functions.TopKAggregator(n))
    val u = (hashBucket(col(keyCol), salt) + lit(1L)).cast("double") / lit(BucketSpace)
    val picks = rows.filter(weight > 0)
      .select(group.as("_grp"),
        pow(u, lit(1.0) / weight.cast("double")).as("_score"),
        col(keyCol).cast("long").as("_k"))
      .groupBy(col("_grp"))
      .agg(topn(col("_score"), col("_k")).as("_top"))
      .select(col("_grp"), explode(col("_top.id")).as("_k"))
    rows.join(picks,
      group <=> col("_grp") && col(keyCol).cast("long") === col("_k"),
      "left_semi")
  }

  // ------------------------------------------------------ driver queries --

  /** Canonical demo weights for [[mixQuery]]: even-numbered sources
    * down-sampled to 25%, odd-numbered kept at 75%. Shared with the
    * DuckDB oracle generator so the two faces cannot drift. */
  private[graft] val mixRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) 0.25 else 0.75)).toMap

  private[graft] val splitFractions: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** The non-terminal splits with their cumulative upper bounds — the
    * CASE-chain inputs shared by [[assignSplit]]'s oracle SQL (x19 and
    * the x69 leakage audit) so the threshold arithmetic has exactly one
    * definition. */
  private[graft] val splitCums: Seq[(String, Double)] = {
    val cums = splitFractions.map(_._2).scanLeft(0.0)(_ + _).tail
    splitFractions.init.map(_._1).zip(cums.init)
  }

  /** x19: deterministic 80/10/10 train/val/test assignment per doc. */
  def splitQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        assignSplit(col("doc_id"), "graft", splitFractions).as("split"))
      .orderBy(col("doc_id"))

  /** x20: deterministic per-source corpus mix at [[mixRates]]. */
  def mixQuery(spark: SparkSession, dir: String): DataFrame =
    mixCorpus(Tables.load(spark, dir, "documents"), col("doc_id"), "mix", mixRates)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** Demo weights TABLE for [[mixWeightedQuery]] (x22): explicit varied
    * weights for the even-numbered sources only — odd sources exercise
    * the [[weightedMixDefault]] fallback. Shared with the DuckDB oracle so
    * the two faces cannot drift. */
  private[graft] val weightedMixRates: Map[String, Double] =
    (0 until 20 by 2).map(i => s"src$i" -> (0.05 + i * 0.045)).toMap
  private[graft] val weightedMixDefault: Double = 0.6

  /** x22: the broadcast-weights-table form of the corpus mix
    * ([[mixCorpusWeighted]]) — decision-identical to a CASE chain over
    * the same rates, proven cross-engine by the DuckDB oracle. */
  def mixWeightedQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weights = weightedMixRates.toSeq.sortBy(_._1).toDF("source", "rate")
    mixCorpusWeighted(Tables.load(spark, dir, "documents"), col("doc_id"), "mixw",
        weights, weightedMixDefault)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Canonical demo epoch weights for [[upsampleQuery]] (x50): the four
    * regimes an epoch schedule hits — down-sample (0.4), keep exactly
    * (1.0), repeat-with-fraction (1.7), and multi-epoch (2.5). Shared
    * with the DuckDB oracle generator so the two faces cannot drift. */
  private[graft] val epochWeights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (i % 4 match {
      case 0 => 0.4
      case 1 => 1.0
      case 2 => 1.7
      case _ => 2.5
    })).toMap

  /** x50: deterministic epoch-weighted upsampling with repetition. */
  def upsampleQuery(spark: SparkSession, dir: String): DataFrame =
    upsampleEpochs(Tables.load(spark, dir, "documents"),
        col("doc_id"), "epoch", epochWeights)
      .select(col("doc_id"), col("source"), col("copy"))
      .orderBy(col("doc_id"), col("copy"))

  /** x26's per-stratum count, shared with the DuckDB oracle. */
  private[graft] val StratifiedN: Int = 12

  /** x26: exactly 12 docs per source, hash-deterministic. */
  def stratifiedQuery(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.load(spark, dir, "documents"),
        col("source"), col("doc_id"), "strat", StratifiedN)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** x56's per-source token budget, shared with the DuckDB oracle. Cuts
    * mid-corpus at sf0.01 (~1.5k tokens/source) and keeps the head slice
    * at sf0.1 (~13k tokens/source). */
  private[graft] val TokenBudgetPerSource: Long = 800L

  /** x56: greedy per-source token-budget selection on the distributed
    * prefix scan (no per-source single-task sort). */
  def tokenBudgetQuery(spark: SparkSession, dir: String): DataFrame =
    tokenBudget(Tables.load(spark, dir, "documents"), TokenBudgetPerSource)
      .orderBy(col("doc_id"))

  /** x21: sharded sequence packing at a 2000-token budget. */
  def packQuery(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  // ------------------ provisioned packing (x173 = x165 -> x21) --------

  /** x173's truncation-loss ceiling: the sweep winner is the
    * largest-utilization L whose drop rate stays under this. Shared
    * with the DuckDB twin. 0.15 picks L=64 on the corpus tables (the
    * knee of the curve) at every SF. */
  val PackWinnerMaxDrop: Double = 0.15

  /** The x165 provisioning decision made EXECUTABLE: argmax `util`
    * over [[graft.operators.DocPrep.contextSweep]]'s grid subject to
    * `drop_rate <= maxDrop`, ties to the SMALLER L (both columns are
    * round-6 images of exact integers, so the choice is cross-engine
    * exact). A |grid|-row collect — the codebook discipline. */
  def sweepWinner(docs: DataFrame,
                  grid: Seq[Long] = DocPrep.ContextGrid,
                  maxDrop: Double = PackWinnerMaxDrop): Long = {
    val rows = DocPrep.contextSweep(docs, grid)
      .filter(col("drop_rate") <= maxDrop)
      .orderBy(col("util").desc, col("max_len"))
      .limit(1).collect()
    require(rows.nonEmpty,
      s"sweepWinner: no grid point holds drop_rate <= $maxDrop")
    rows.head.getAs[Long]("max_len")
  }

  /** x173: PACKING AT THE SWEEP WINNER — x165's provisioning table
    * feeding x21's bin assembly, the composition a training run
    * actually executes: pick the context length (the sweep's
    * constrained argmax), truncate every document's token count at it
    * (exactly the regime the sweep priced), and pack the truncated
    * counts into L-token bins. The spec pins the composition contract:
    * kept tokens are conserved (packing moves padding, never data) and
    * the packed regime's padding never exceeds the one-doc-per-slot
    * `pad_tokens` the sweep predicted — `util` priced exactly what
    * packing recovers.
    *
    * Shape: one corpus scan for the sweep (the x144 discipline), a
    * 1-row driver decision, then x21's sharded window — a second scan.
    * At 100 TB the sweep is a dashboard table refreshed out-of-band;
    * the winner arrives as a config constant and this is ONE scan. */
  def packAtSweepWinner(docs: DataFrame,
                        grid: Seq[Long] = DocPrep.ContextGrid,
                        maxDrop: Double = PackWinnerMaxDrop,
                        shards: Int = 32): DataFrame = {
    require(shards > 0 && shards <= (1 << 22), s"shards=$shards")
    val l = sweepWinner(docs, grid, maxDrop)
    val base = docs.select(
      col("doc_id"),
      least(size(TextAnalysis.wsTokens(col("text"))).cast("long"), lit(l))
        .as("n_tokens"),
      (col("doc_id") % shards).as("shard"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    base
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("n_tokens"), col("shard"),
        (col("shard") * lit(ShardStride) +
          floor((col("cum") - col("n_tokens")) / lit(l.toDouble))).as("pack_id"),
        lit(l).as("max_len"))
  }

  def packWinnerQuery(spark: SparkSession, dir: String): DataFrame =
    packAtSweepWinner(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** x36: dense contiguous ids over documents in (source, doc_id) order —
    * the scalable global row-number. Oracle: row_number() over the same
    * total order, minus one. */
  def denseIdQuery(spark: SparkSession, dir: String): DataFrame =
    denseIds(Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("source")),
      Seq(col("source"), col("doc_id")))
      .orderBy(col("doc_id"))

  /** x37: the bounded-heap form of x26 — EXACTLY 12 docs per source,
    * same hash-deterministic selection, checked against the same oracle
    * SQL as x26 (the two faces must agree cell-for-cell). */
  def stratifiedHeapQuery(spark: SparkSession, dir: String): DataFrame =
    stratifiedSampleAgg(Tables.load(spark, dir, "documents"),
        col("source"), "doc_id", "strat", StratifiedN)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** x40's sample size, shared with the DuckDB oracle. */
  private[graft] val WeightedN: Int = 64

  /** x42's per-group sample size, shared with the DuckDB oracle. */
  private[graft] val WeightedPerGroupN: Int = 8

  /** x42: 8 docs per source, drawn with probability proportional to
    * whitespace token count — the per-source quality-weighted pick. */
  def weightedGroupSampleQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens"))
    weightedSamplePerGroup(docs, col("source"), "doc_id", "aesg",
        col("n_tokens"), WeightedPerGroupN)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** x40: A-ES weighted sample — 64 docs drawn with probability
    * proportional to whitespace token count. */
  def weightedSampleQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens"))
    weightedSample(docs, col("doc_id"), "aes", col("n_tokens"), WeightedN)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------- length bucketing (x66)

  /** Power-of-two length bucket of a non-negative token count — the
    * binary magnitude floor(log2(n))+1 (0 → bucket 1), computed as the
    * LENGTH OF THE BINARY STRING so it is integer-exact on both engines
    * (`length(bin(n))`; a float log2 could straddle an exact power of
    * two differently per libm). Inference batching pads every sequence
    * in a batch to the batch max, so grouping by binary magnitude bounds
    * padding waste below 50% per bucket — the standard length-bucketing
    * prep. */
  def lengthBucket(nTokens: Column): Column =
    length(bin(nTokens)).cast("int")

  /** x66: per-(source, bucket) length histogram — doc and token volume
    * plus the exact extremes. One scan, one two-phase agg; the bucket is
    * a codegen'd projection. */
  def lengthHistogram(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("_nt"))
      .withColumn("bucket", lengthBucket(col("_nt")))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("sum_tokens"),
        min(col("_nt")).as("min_tokens"),
        max(col("_nt")).as("max_tokens"))

  def lengthHistQuery(spark: SparkSession, dir: String): DataFrame =
    lengthHistogram(Tables.load(spark, dir, "documents"))
      .orderBy(col("source"), col("bucket"))

  // ------------------------------------- temperature-balanced mix (x68)

  /** x68: temperature-balanced source mix at α = 0.5 — the multilingual
    * sampling standard (downweight head sources so target shares go
    * ∝ n^α instead of ∝ n): source s keeps at rate sqrt(n_min / n_s),
    * so the SMALLEST source keeps everything and a source 100× larger
    * keeps 10%. Deterministic cross-engine BY CONSTRUCTION of α = 0.5:
    * the rate is one IEEE division and one sqrt, both correctly-rounded
    * operations, so both engines compute bit-identical rates and the
    * [[keepAtRate]] decision never sits on an engine-dependent boundary
    * (a general pow(x, α) is NOT correctly rounded and could differ by
    * an ulp between libms).
    *
    * Scale shape: one tiny count agg (|sources| rows), rates broadcast
    * back, then a pure filter — the corpus never shuffles. */
  def temperatureMix(docs: DataFrame, key: Column, salt: String): DataFrame =
    applyRates(docs, temperatureRatesOf(docs), key, salt)

  /** The frozen (source, rate) artifact of [[temperatureMix]]: one tiny
    * count agg over a reference corpus, sqrt-scaled. Persist it
    * (parquet) and feed [[applyRates]] — including on a STREAM
    * ([[graft.streaming.StreamingOps.temperatureMixStream]]) — to admit
    * later data at the frozen balance, the frozen-baseline-gate
    * discipline of x33/x58/x60/x63. */
  def temperatureRatesOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("_n"))
    val minN = counts.agg(min(col("_n")).as("_n_min"))
    counts.crossJoin(broadcast(minN))
      .select(col("source"),
        sqrt(col("_n_min").cast("double") / col("_n")).as("rate"))
  }

  /** Filter rows to a (source, rate) table's keep-rates — broadcast
    * left join, so the filtered side never shuffles (and may be a
    * streaming frame). Sources ABSENT from the rates table keep
    * everything (rate 1.0): a frozen-balance gate has no grounds to
    * drop data it has no rate for — surface new sources downstream
    * rather than silently discarding them. */
  def applyRates(rows: DataFrame, rates: DataFrame, key: Column,
                 salt: String): DataFrame =
    rows.join(broadcast(rates.select(col("source"), col("rate").as("_rate"))),
        Seq("source"), "left")
      .filter(keepAtRate(key, salt, coalesce(col("_rate"), lit(1.0))))
      .drop("_rate")

  def temperatureMixQuery(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.load(spark, dir, "documents"), col("doc_id"), "temp")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  // ------------------------------------------- split-leakage audit (x69)

  /** x69: the split-hygiene audit a pipeline runs after x19 — for every
    * unordered split pair, how many VERIFIED near-duplicate pairs
    * (x46's accept set — or any (d1, d2) pair frame, e.g. a persisted
    * [[Dedup.loadVerifiedPairs]] artifact) straddle the two sides. A
    * train/test straddle is answer leakage through a near-copy; the
    * count should be driven to zero by near-deduplicating BEFORE
    * splitting, or by splitting on the duplicate-cluster key instead of
    * the doc id. The split assignment recomputes x19's hash CASE on the
    * pair's own id columns — no join back to the corpus, so the audit
    * is a pure projection + tiny agg over the (small by construction)
    * pair set. */
  def splitLeakage(pairs: DataFrame, salt: String,
                   fractions: Seq[(String, Double)]): DataFrame = {
    val s1 = assignSplit(col("d1"), salt, fractions)
    val s2 = assignSplit(col("d2"), salt, fractions)
    pairs.select(s1.as("_s1"), s2.as("_s2"))
      .filter(col("_s1") =!= col("_s2"))
      .select(least(col("_s1"), col("_s2")).as("split_a"),
        greatest(col("_s1"), col("_s2")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** The x69 query pushes the split predicate BELOW the verify: only
    * candidates whose two ids hash to different splits enter the
    * shingle shuffle and exact-Jaccard join (semantics-preserving —
    * verify decides each pair independently, and the audit drops
    * same-split pairs anyway). At the demo 80/10/10 split the win is
    * minor (candidate GENERATION dominates and is irreducible); the
    * pushdown pays at production splits like 99/0.5/0.5 where ~99% of
    * candidate pairs are same-split and the verify legs shrink
    * accordingly. */
  def splitLeakageQuery(spark: SparkSession, dir: String): DataFrame = {
    val straddles = (c: DataFrame) => c.filter(
      assignSplit(col("d1"), "graft", splitFractions) =!=
        assignSplit(col("d2"), "graft", splitFractions))
    splitLeakage(
        Dedup.verifiedNearDupPairs(Tables.load(spark, dir, "documents"),
            candidateFilter = straddles)
          .select(col("d1"), col("d2")),
        "graft", splitFractions)
      .orderBy(col("split_a"), col("split_b"))
  }

  // ------------------------------------------ per-source quota (x98)

  /** x98's per-source document cap, shared with the DuckDB twin. */
  private[graft] val SourceCapN: Long = 20L

  /** x98: PER-SOURCE QUOTA CAP — the host-level cap a web-corpus
    * pipeline applies so no single feed dominates the mix (the
    * C4/CCNet url-host discipline): within each source, rank documents
    * by a deterministic md5 priority ([[hashBucket]], doc_id
    * tie-broken) and keep the first `cap`. Every document comes back
    * with its rank and verdict — the audit shape, not a silent filter.
    *
    * Scale shape: one rank window PARTITIONED BY source — parallel
    * across sources, and per-source work is a partition-local sort.
    * When a single source outgrows an executor (the true 100 TB hot
    * host), swap the window for the x37 bounded-heap aggregate at the
    * same (priority, doc_id) order — the cap is a top-k per group, so
    * the heap form is semantics-identical; the window form is kept
    * here because ranks for ALL rows (not just keepers) are part of
    * the audit contract. */
  def sourceCap(docs: DataFrame, cap: Long): DataFrame = {
    val prio = hashBucket(col("doc_id"), "cap")
    docs.select(col("doc_id"), col("source"),
        row_number().over(
          Window.partitionBy(col("source")).orderBy(prio, col("doc_id")))
          .cast("long").as("rk"))
      .withColumn("kept", when(col("rk") <= cap, 1L).otherwise(0L))
  }

  def sourceCapQuery(spark: SparkSession, dir: String): DataFrame =
    sourceCap(Tables.load(spark, dir, "documents"), SourceCapN)
      .orderBy(col("doc_id"))

  // ------------------------------------- packing / padding audit (x110)

  /** x110: LENGTH-BUCKET PACKING AUDIT — if batches are built by
    * bucketing documents into power-of-two token-length buckets and
    * padding each to its bucket capacity (the fixed-shape batching
    * most training stacks run), how much compute is padding? Per
    * bucket: capacity (smallest 2^k ≥ n_tokens), document and token
    * counts, padded-slot total, the padding waste, and the fill
    * efficiency. The report that picks bucket boundaries — and the
    * quantified argument for sequence packing (x21) over padding.
    *
    * Integer-exact except `efficiency`, which is ONE double division
    * of two exact integers (deterministic, cross-engine identical).
    * The capacity expression `1 << length(bin(n-1))` (n=1 pinned to 1)
    * avoids any float log2: both engines compute the bit length of
    * n−1 on the integer itself.
    *
    * Shape: one scan → narrow token count → hash agg on ~60 buckets;
    * partial aggregation collapses everything map-side, the shuffle
    * carries |buckets| rows. */
  def packAudit(docs: DataFrame): DataFrame = {
    val n = col("n_tokens")
    docs
      .select(size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens"))
      .filter(n >= 1L)
      .withColumn("capacity",
        // SQL-form shiftleft: the Scala DSL overload only takes a
        // literal shift amount, the SQL function shifts by a column
        when(n === 1L, 1L)
          .otherwise(expr("shiftleft(1L, length(bin(n_tokens - 1)))")))
      .groupBy(col("capacity"))
      .agg(count(lit(1)).as("n_docs"),
        sum(n).as("n_tokens"))
      .select(col("capacity"), col("n_docs"), col("n_tokens"),
        (col("n_docs") * col("capacity")).as("padded_slots"),
        (col("n_docs") * col("capacity") - col("n_tokens")).as("padding"),
        round(col("n_tokens").cast("double") /
          (col("n_docs") * col("capacity")).cast("double"), 6).as("efficiency"))
  }

  def packAuditQuery(spark: SparkSession, dir: String): DataFrame =
    packAudit(Tables.load(spark, dir, "documents"))
      .orderBy(col("capacity"))

  // --------------------------------------- split balance audit (x115)

  /** x115: SPLIT LABEL-BALANCE AUDIT — the chi-square contingency table
    * between x19's hash splits and the language label: per (split,
    * lang) cell, the observed count, the count expected under
    * independence, and the cell's chi-square contribution. A healthy
    * hash split is label-blind, so large contributions localize WHERE
    * stratification broke (e.g. a language whose doc_ids cluster) —
    * the audit run before accepting a split for eval. Complements x69
    * (which audits content leakage ACROSS splits; this audits label
    * balance WITHIN the assignment).
    *
    * Determinism: observed counts and marginals are exact integers;
    * `expected` = split_total·lang_total/N as three exact-int→double
    * conversions and two IEEE ops, and the contribution is the same
    * closed form on both engines (identical parenthesization), each
    * rounded to 6 (the x80 closed-form discipline).
    *
    * Shape: one scan → (split, lang) hash agg; marginals are windows
    * over the |splits|·|langs| aggregate, never a second scan. */
  def splitBalance(docs: DataFrame): DataFrame = {
    val cell = docs
      .select(assignSplit(col("doc_id"), "graft", splitFractions).as("split"),
        col("lang"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val wSplit = Window.partitionBy(col("split"))
    val wLang = Window.partitionBy(col("lang"))
    // the grand total is an unpartitioned window — over the ALREADY
    // AGGREGATED |splits|·|langs| frame (bounded at any corpus scale),
    // not raw data, so the one-partition WindowExec is harmless and a
    // broadcast-scalar cross join would re-scan the corpus instead
    val wAll = Window.partitionBy()
    val expected = col("split_total").cast("double") *
      col("lang_total").cast("double") / col("total").cast("double")
    cell
      .withColumn("split_total", sum(col("n_docs")).over(wSplit))
      .withColumn("lang_total", sum(col("n_docs")).over(wLang))
      .withColumn("total", sum(col("n_docs")).over(wAll))
      .select(col("split"), col("lang"), col("n_docs"),
        round(expected, 6).as("expected"),
        round((col("n_docs").cast("double") - expected) *
          (col("n_docs").cast("double") - expected) / expected, 6)
          .as("chi2_term"))
  }

  def splitBalanceQuery(spark: SparkSession, dir: String): DataFrame =
    splitBalance(Tables.load(spark, dir, "documents"))
      .orderBy(col("split"), col("lang"))

  // -------------------------------- split KS distribution audit (x127)

  /** x127: SPLIT KS AUDIT — the two-sample Kolmogorov–Smirnov statistic
    * between train's and val's token-length distributions, per source:
    * D = max over x of |F_train(x) − F_val(x)|. x115 checks the LABEL
    * contingency; this is the continuous-variable counterpart — a hash
    * split that accidentally correlates with length (e.g. id-ordered
    * ingestion + length drift) shows up here before it poisons eval.
    *
    * Determinism: cumulative counts are exact integers over a total
    * value order; each ECDF gap is two correctly-rounded divisions and
    * a subtraction (identical tree both engines), and D is the max of
    * those per-value doubles (order-free), round 6. The double form
    * (not cum1·n2 − cum2·n1 integers) is deliberate: the integer cross
    * product overflows i64 once both splits exceed ~3·10⁹ rows.
    *
    * Shape: one scan → (source, split, length) hash agg → rank/cumsum
    * windows partitioned by source over the value-grain aggregate →
    * per-source max rollup. */
  def ksSplitAudit(docs: DataFrame): DataFrame = {
    val tagged = docs.select(col("source"),
        assignSplit(col("doc_id"), "graft", splitFractions).as("split"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("len"))
      .filter(col("split").isin("train", "val"))
    val perVal = tagged.groupBy(col("source"), col("len"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("c1"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("c2"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    perVal
      .withColumn("cum1", sum(col("c1")).over(wCum))
      .withColumn("cum2", sum(col("c2")).over(wCum))
      .withColumn("n1", sum(col("c1")).over(wAll))
      .withColumn("n2", sum(col("c2")).over(wAll))
      .groupBy(col("source"))
      .agg(first(col("n1")).as("n_train"), first(col("n2")).as("n_val"),
        // nullif on the split totals (the zipfSlope/rateBursts guard):
        // a source whose docs all land in one split reports a null ks
        // rather than an engine-specific NaN/Infinity.
        round(max(abs(
          col("cum1").cast("double") / nullif(col("n1").cast("double"), lit(0d)) -
          col("cum2").cast("double") / nullif(col("n2").cast("double"), lit(0d)))),
          6).as("ks"))
  }

  def ksSplitAuditQuery(spark: SparkSession, dir: String): DataFrame =
    ksSplitAudit(Tables.load(spark, dir, "documents"))
      .orderBy(col("source"))

  // ------------------------------------------- split PSI drift (x128)

  /** x128: SPLIT PSI — the population stability index between train's
    * and val's token-length BUCKET distributions (x110's power-of-two
    * capacities), per source: Σ_b (p_b − q_b)·ln(p_b/q_b) with +1
    * Laplace smoothing over the source's observed buckets (so an
    * empty-on-one-side bucket contributes a finite, deterministic
    * term instead of ±∞). The binned drift metric ML monitoring runs
    * on every feature; here it certifies the split, and later the
    * same shape certifies corpus snapshots against each other.
    * PSI < 0.1 is the conventional "stable" band.
    *
    * Determinism: p and q are single divisions of exact integers; each
    * bucket term is rounded at 6 into DECIMAL(18,6) (per-row
    * engine-identical), the per-source sum is exact decimal, emitted
    * as DOUBLE — the x82 discipline with the transcendental pinned
    * inside the term.
    *
    * Shape: one scan → (source, bucket) hash agg → totals as windows
    * over the bucket-grain aggregate → per-source decimal sum. */
  def psiSplitAudit(docs: DataFrame): DataFrame = {
    val tagged = docs.select(col("source"),
        assignSplit(col("doc_id"), "graft", splitFractions).as("split"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("len"))
      .filter(col("split").isin("train", "val"))
      .select(col("source"), (col("split") === "train").as("is_a"), col("len"))
    psiCore(tagged)
      .select(col("source"), col("n_a").as("n_train"), col("n_b").as("n_val"),
        col("n_buckets"), col("psi"))
  }

  /** The PSI kernel x128 and x130 share: a tagged (source, is_a, len)
    * frame → per-source PSI over the x110 power-of-two length buckets
    * with +1 Laplace smoothing. See [[psiSplitAudit]] for the
    * determinism discipline. */
  private[graft] def psiCore(tagged: DataFrame): DataFrame = {
    val n = col("len")
    val perBucket = tagged.filter(n >= 1L)
      .withColumn("bucket",
        when(n === 1L, 1L)
          .otherwise(expr("shiftleft(1L, length(bin(len - 1)))")))
      .groupBy(col("source"), col("bucket"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("c2"))
    val wAll = Window.partitionBy(col("source"))
    val p = (col("c1") + 1).cast("double") /
      (col("n1") + col("nb")).cast("double")
    val q = (col("c2") + 1).cast("double") /
      (col("n2") + col("nb")).cast("double")
    perBucket
      .withColumn("n1", sum(col("c1")).over(wAll))
      .withColumn("n2", sum(col("c2")).over(wAll))
      .withColumn("nb", count(lit(1)).over(wAll))
      .select(col("source"), col("n1"), col("n2"), col("nb"),
        round((p - q) * round(log(p / q), 6), 6)
          .cast("decimal(18,6)").as("term"))
      .groupBy(col("source"))
      .agg(first(col("n1")).as("n_a"), first(col("n2")).as("n_b"),
        first(col("nb")).as("n_buckets"),
        sum(col("term")).cast("double").as("psi"))
  }

  def psiSplitAuditQuery(spark: SparkSession, dir: String): DataFrame =
    psiSplitAudit(Tables.load(spark, dir, "documents"))
      .orderBy(col("source"))

  // ---------------------------------- exact-proportion split (x132)

  /** x132: EXACT-PROPORTION STRATIFIED SPLIT — the complement of x19's
    * hash-range split: within each source, rank docs by the SAME md5
    * priority and cut at exact integer thresholds, so every source
    * lands exactly ⌊n·80%⌋ / ⌊n·90%⌋−⌊n·80%⌋ / rest in
    * train/val/test. x19 is O(0) state and append-stable but only
    * EXPECTED proportions — a 30-doc source can put 0 docs in val;
    * this form spends one rank window per source to guarantee counts
    * (what eval needs for small strata). The same trade as x26 vs
    * x37's heap.
    *
    * Determinism: the priority is (hashBucket, doc_id) — totally
    * ordered; thresholds are integer floor products (`n·8 div 10`),
    * exact in both engines.
    *
    * Shape: one scan → per-source rank window (partitioned, no global
    * sort) over the doc grain. At 100 TB this is the expensive split
    * (a full shuffle on source); x19 stays the default, this is the
    * small-strata tool. */
  def exactSplit(docs: DataFrame, salt: String = "graft"): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(hashBucket(col("doc_id"), salt), col("doc_id"))
    val wn = Window.partitionBy(col("source"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .select(col("doc_id"), col("source"),
        when(col("r") <= expr("n * 8 div 10"), "train")
          .when(col("r") <= expr("n * 9 div 10"), "val")
          .otherwise("test").as("split"))
  }

  def exactSplitQuery(spark: SparkSession, dir: String): DataFrame =
    exactSplit(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  // ------------------------------------ split diversity index (x135)

  /** x135: SOURCE DIVERSITY of each split — the Shannon entropy of the
    * source distribution inside every x19 split: H = Σ (c/N)·ln(N/c).
    * A split whose entropy sits far below the corpus's is
    * source-skewed (one feed dominates eval); ln|sources| is the
    * uniform ceiling. The corpus-composition number next to x115's
    * label chi-square — x115 localizes WHICH cells misalign, this
    * scores the split's overall mixture in one number.
    *
    * Determinism: the x81/x82 discipline — per-(split, source) term
    * ln(N/c) rounded at 6 into DECIMAL(18,6), the exact decimal dot
    * product with integer counts, ONE double division by N.
    *
    * Shape: one scan → (split, source) hash agg → windows over the
    * |splits|·|sources| aggregate. */
  def splitDiversity(docs: DataFrame): DataFrame = {
    val cell = docs
      .select(assignSplit(col("doc_id"), "graft", splitFractions).as("split"),
        col("source"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("split"))
    cell
      .withColumn("n", sum(col("c")).over(w))
      .select(col("split"), col("c"), col("n"),
        round(log(col("n").cast("double") / col("c").cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
      .groupBy(col("split"))
      .agg(first(col("n")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        (sum(col("c") * col("lp")).cast("double") / first(col("n")))
          .as("entropy"))
  }

  def splitDiversityQuery(spark: SparkSession, dir: String): DataFrame =
    splitDiversity(Tables.load(spark, dir, "documents"))
      .orderBy(col("split"))

  // --------------------------------------- snapshot PSI drift (x130)

  /** x130: SNAPSHOT PSI — the x128 drift metric between two CORPUS
    * SNAPSHOTS (x88's old/new pair) instead of two splits: per source,
    * did this release's token-length distribution move? x88 answers
    * WHICH documents changed; this answers whether the change matters
    * distributionally — the one-number release gate that fires on a
    * truncation bug or an ingest regime change even when doc counts
    * look normal. Shares [[psiCore]] with x128 verbatim, cashing the
    * "same shape certifies corpus snapshots" claim. */
  def snapshotPsi(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def tag(df: DataFrame, a: Boolean) =
      df.select(col("source"), lit(a).as("is_a"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("len"))
    psiCore(tag(oldSnap, a = true).unionByName(tag(newSnap, a = false)))
      .select(col("source"), col("n_a").as("n_old"), col("n_b").as("n_new"),
        col("n_buckets"), col("psi"))
  }

  /** The x130 queries() face: the SAME deterministic x88 snapshot plant
    * (old = drop id≡0 mod 17, edit id≡0 mod 23 by one token; new =
    * drop id≡0 mod 19), so diff and drift read the same release. */
  def snapshotPsiQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val toks = TextAnalysis.wsTokens(col("text"))
    val oldSnap = docs.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 23 === 0,
          array_join(slice(toks, lit(1), greatest(size(toks) - 1, lit(0))), " "))
          .otherwise(col("text")))
    val newSnap = docs.filter(col("doc_id") % 19 =!= 0)
    snapshotPsi(oldSnap, newSnap).orderBy(col("source"))
  }

  // ------------------------------- split gram-leakage summary (x149)

  /** x149's shingle width, shared with the DuckDB twin (x16's span
    * grain). */
  private[graft] val LeakGramN: Int = 4

  /** x149: SPLIT GRAM-LEAKAGE SUMMARY (splitGramLeakage — x69's splitLeakage lists doc pairs) — for every pair of x19 splits,
    * how many distinct [[LeakGramN]]-grams they SHARE: the train/eval
    * contamination headline x69 lists pair-by-pair and x16 gates
    * doc-by-doc, collapsed to the release-note number ("val shares N
    * spans with train"). Gram sets are per-split DISTINCT, so a gram
    * repeated inside one split counts once; pairs with zero overlap
    * still emit (the grid comes from the split list, not the overlap).
    *
    * Shape: one scan → (split, gram) distinct (gram-keyed shuffle,
    * partial-agg collapsed) → gram-keyed self-join of the DISTINCT set
    * (each gram meets ≤ |splits| rows — fan-out bounded by the split
    * count, never corpus-sized) → |splits|²-row grid. At 100 TB grams
    * would carry as xxhash64 keys, the x44 discipline. */
  def splitGramLeakage(docs: DataFrame, n: Int = LeakGramN): DataFrame = {
    // The distinct (split, gram) set is referenced THREE times (the
    // per-split sizes plus both self-join legs) and Catalyst does not
    // dedupe a multiply-referenced aggregate subtree — shared within the
    // returned plan (graft.plans.Shared) so the scan+explode+distinct
    // pipeline runs once, not three times. Grams are carried as
    // xxhash64 keys exactly like the persisted [[saveLeakageIndex]]
    // face (count-identical up to 2^-64 collisions, round-trip
    // spec-asserted): the shared exchange carries 8-byte keys instead
    // of gram text and the self-join shuffles keys, never text. At
    // 100 TB this set is the persisted parquet artifact.
    val g = distinctSplitGrams(docs, n)
      .select(col("split"), xxhash64(col("gram")).as("gram"))
      .distinct()
    graft.plans.Shared(leakageGrid(g), g)
  }

  /** The (split, gram) grain both x149 faces share: every document's
    * distinct [[LeakGramN]]-grams keyed by its x19 split. NOT yet
    * distinct — the callers choose cache-then-distinct (direct face) or
    * hash-then-distinct ([[saveLeakageIndex]]). */
  private def distinctSplitGrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(assignSplit(col("doc_id"), "graft", splitFractions).as("split"),
      explode(Dedup.wordShingles(col("text"), n)).as("gram"))

  /** The |splits|²-row leakage grid over a distinct (split, gram) set —
    * the aggregate+self-join tail both x149 faces share verbatim. */
  private def leakageGrid(g: DataFrame): DataFrame = {
    val sizes = g.groupBy(col("split")).agg(count(lit(1)).as("n_grams"))
    val grid = sizes.select(col("split").as("split_a"), col("n_grams").as("grams_a"))
      .crossJoin(sizes.select(col("split").as("split_b"), col("n_grams").as("grams_b")))
      .filter(col("split_a") < col("split_b"))
    val shared = g.as("a")
      .join(g.as("b"), col("a.gram") === col("b.gram") &&
        col("a.split") < col("b.split"))
      .groupBy(col("a.split").as("split_a"), col("b.split").as("split_b"))
      .agg(count(lit(1)).as("shared_grams"))
    grid.join(shared, Seq("split_a", "split_b"), "left")
      .select(col("split_a"), col("split_b"), col("grams_a"), col("grams_b"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"))
  }

  /** Persist the x149 leakage index: the distinct (split, gram-key) set
    * with grams carried as xxhash64 — the x44 20-byte-key discipline —
    * so release-over-release leakage audits load KB..GB of parquet
    * instead of re-exploding the corpus (the x91/x55 persistence
    * discipline: the corpus-sized gram pipeline runs ONCE per release,
    * every later audit is index-only). Published atomically; the key
    * hash makes the artifact constant-width regardless of gram text
    * size, and [[leakageFromIndex]] is count-identical to the direct
    * face up to xxhash64 collisions (~n²/2⁶⁵ expected — zero at any
    * realistic gram count; round-trip equality spec-asserted). */
  def saveLeakageIndex(docs: DataFrame, path: String, n: Int = LeakGramN): Unit =
    graft.core.Artifacts.publishAtomic(docs.sparkSession, path) { tmp =>
      distinctSplitGrams(docs, n)
        .select(col("split"), xxhash64(col("gram")).as("gram"))
        .distinct()
        .write.mode("overwrite").parquet(s"$tmp/grams")
    }

  /** x149 against a persisted [[saveLeakageIndex]] artifact: the same
    * grid, with ZERO corpus work — the plan reads only the index
    * parquet (spec-gated: no documents scan). The audit a release
    * pipeline re-runs after every split re-cut. */
  def leakageFromIndex(spark: SparkSession, path: String): DataFrame = {
    val root = graft.core.Artifacts.readablePath(spark, path)
    leakageGrid(spark.read.parquet(s"$root/grams"))
  }

  def gramLeakageQuery(spark: SparkSession, dir: String): DataFrame =
    splitGramLeakage(Tables.load(spark, dir, "documents"))
      .orderBy(col("split_a"), col("split_b"))

  // ------------------------------- curriculum length bands (x150)

  /** x150's band count, shared with the DuckDB twin. */
  private[graft] val CurriculumBands: Int = 4

  /** x150: CURRICULUM LENGTH BANDS — every document's GLOBAL rank in
    * the total (n_tokens, doc_id) order and its quartile band
    * `(B·(rank−1)) div N`: the assignment a length-curriculum trainer
    * consumes (short-to-long scheduling), with band edges that are
    * exact integer arithmetic over the rank — no percentile estimate,
    * no float boundary.
    *
    * Shape: the rank is [[groupedRanks]] under ONE constant group —
    * i.e. the distributed two-job prefix scan over a range partition
    * on the sort key — NOT `row_number() OVER ()`, which funnels the
    * ENTIRE corpus through a single task (the x85/x141 discipline,
    * applied to the one case where the group really is global). N
    * arrives as a 1-row broadcast aggregate. */
  def curriculumBands(docs: DataFrame, bands: Int = CurriculumBands,
                      numPartitions: Int = 0): DataFrame = {
    require(bands > 0, s"curriculumBands: bands=$bands")
    val t = docs.select(col("doc_id"),
      size(graft.operators.TextAnalysis.wsTokens(col("text"))).cast("long")
        .as("n_tokens"))
    val ranked = groupedRanks(t.withColumn("_g", lit(1)), Seq("_g"),
        Seq(col("n_tokens"), col("doc_id")), "rank", numPartitions)
      .drop("_g")
    ranked
      .crossJoin(broadcast(t.groupBy().agg(count(lit(1)).as("_n"))))
      .select(col("doc_id"), col("n_tokens"), col("rank"),
        expr(s"($bands * (rank - 1)) div _n").as("band"))
  }

  // ------------------------------- per-doc leakage probe (x152)

  /** x152: PER-DOCUMENT LEAKAGE PROBE — for each document, how many of
    * its distinct [[LeakGramN]]-grams appear in each split's gram set
    * (`index`: the distinct (split, xxhash64-gram) relation, typically
    * the persisted [[saveLeakageIndex]] artifact): the doc-grain
    * drill-down under x149's split-pair headline. x149 says "val shares
    * N grams with train"; this NAMES the documents carrying the leak
    * and how much each contributes — the row a curator acts on (drop,
    * re-split, or excise via x151). Zero-overlap (doc, split) pairs
    * don't emit: the report is hit-grain, bounded by actual leakage,
    * never |docs|·|splits|.
    *
    * Shape: doc grams carry as xxhash64 keys from the first projection
    * (the x44 discipline — the gram-keyed equi-join shuffles 8-byte
    * keys, never gram text); the index side is already distinct, the
    * doc side distinct per doc (wordShingles), so the (doc, split)
    * count IS the distinct shared-gram count with no extra dedup. One
    * join + one aggregate; no broadcast hint — a 100 TB corpus's gram
    * index is itself corpus-scale, AQE picks the strategy. The live
    * form ([[graft.streaming.StreamingOps.leakageProbeStream]]) runs
    * this same body against the frozen artifact. */
  def leakageProbe(docs: DataFrame, index: DataFrame,
                   n: Int = LeakGramN): DataFrame =
    docs
      .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), n)).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gram"))
      .join(index, Seq("gram"))
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("shared_grams"))

  /** The x152 queries() face: every document probed against the OTHER
    * splits' gram sets (its own split trivially contains all its grams
    * — that row is noise, not leakage).
    *
    * Shape: the probe grams and the split gram index are BOTH views of
    * one exploded (doc_id, own_split, gram-hash) frame — built once
    * and shared within the plan instead of running the corpus scan +
    * shingle explode twice (plan-verified: 2 parquet scans before, and
    * the probe leg's whole explode was the broadcast build side). The
    * doc's own split rides along as a column, so the exclusion filter
    * compares two columns instead of re-deriving the md5 split
    * assignment per join-candidate row. Against a PERSISTED index
    * ([[leakageFromIndex]] / the streaming face) [[leakageProbe]] stays
    * the operative form — this face exists for the in-run audit where
    * both sides come from the same corpus read. */
  def leakProbeQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val base = docs.select(col("doc_id"),
          assignSplit(col("doc_id"), "graft", splitFractions).as("own_split"),
          explode(Dedup.wordShingles(col("text"), LeakGramN)).as("gram"))
        .select(col("doc_id"), col("own_split"), xxhash64(col("gram")).as("gram"))
    val index = base.select(col("own_split").as("split"), col("gram")).distinct()
    graft.plans.Shared(base.select(col("doc_id"), col("own_split"), col("gram"))
      .join(index, Seq("gram"))
      .filter(col("split") =!= col("own_split"))
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("shared_grams"))
      .orderBy(col("doc_id"), col("split")), base)
  }

  // ------------------------------- DSIR importance weights (x153)

  /** x153's bucket count and hash salt, shared with the DuckDB oracle. 256
    * buckets is the demo setting; real deployments use 10^4..10^5 (the
    * published method hashes n-grams into 10^4 buckets). */
  private[graft] val DsirBuckets: Int = 256
  private[graft] val DsirSalt: String = "dsir"

  /** x153: HASHED-TOKEN IMPORTANCE WEIGHTS — the DSIR move (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every raw document by how target-like its
    * token distribution is — avg over tokens of
    * `λ_b = ln p̂_target(b) − ln p̂_raw(b)`, with tokens hashed into
    * [[DsirBuckets]] md5 buckets and both distributions add-one
    * smoothed. Docs with high weight read like the curated target
    * corpus; importance RESAMPLING is then just [[keepAtRate]] (or
    * x40's weighted sampler) driven by this column — the principled
    * upgrade over per-source temperature mixing (x68) when the target
    * is a corpus, not a source list.
    *
    * Determinism: the bucket hash is the cross-engine [[hashBucket]]
    * md5 image (never engine-local xxhash — bucket identity CHANGES the
    * counts, unlike x44's carrier hashing); each of the two lns goes
    * through the x67 round-at-6-into-DECIMAL discipline, λ is an exact
    * decimal subtraction, and the per-doc mean is an exact decimal dot
    * product over one double division. Zero-token docs surface with
    * n_tokens = 0 and a null weight (a report, not a filter).
    *
    * Scale shape: bucket tables are B-row aggregates (broadcast-sized
    * at any realistic B); the per-(doc, bucket) aggregate is referenced
    * twice (the raw marginal and the scoring join) — both subtrees root
    * in the same (doc_id, b) exchange, which exchange reuse collapses
    * at runtime (the x67 discipline). Scoring is one broadcast join of
    * doc-buckets to the B-row λ table plus a doc-grain aggregate; the
    * corpus never shuffles wider than (doc_id, bucket, count). */
  def dsirWeights(raw: DataFrame, target: DataFrame,
                  buckets: Int = DsirBuckets): DataFrame = {
    require(buckets > 0, s"dsirWeights: buckets=$buckets")
    val rbd = tokenBuckets(raw, buckets).groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("n"))
    // the raw marginal derives FROM the per-doc aggregate so both
    // subtrees root in the same (doc_id, b) exchange (runtime exchange
    // reuse — the x67 discipline), not from a second corpus explode
    val rc = rbd.groupBy(col("b")).agg(sum(col("n")).as("rc"))
    val per = rbd.join(dsirLambda(rc, target, buckets), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        (sum(col("n") * col("lam")).cast("double") / sum(col("n")))
          .as("avg_lr"))
    raw.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
  }

  private def tokenBuckets(df: DataFrame, buckets: Int): DataFrame = df
    // fused pass (value-identical to explode + hashBucket % buckets,
    // spec-gated): no hex string or conv per token
    .select(col("doc_id"),
      explode(graft.functions.expressions.NativeExpressions.md5BucketTokens(
        graft.operators.TextAnalysis.wsTokens(col("text")), DsirSalt, buckets,
        bigrams = false)).as("b"))

  /** The x153 λ table: one row per bucket any RAW token landed in
    * (`rc`: the (b, rc) raw bucket marginal),
    * `λ_b = round6(ln p̂_target(b)) − round6(ln p̂_raw(b))` as an exact
    * DECIMAL(18,6) difference — the model both [[dsirWeights]] and the
    * persisted [[saveDsirModel]] share verbatim. */
  private def dsirLambda(rc: DataFrame, target: DataFrame,
                         buckets: Int): DataFrame = {
    val b = lit(buckets.toLong)
    // both ≤ B-row marginals are referenced twice (their total aggregate
    // AND the λ join) — shared within the returned plan so the corpus
    // explode pipelines behind them run once per action, not once per
    // reference (the x79/x95 discipline; Catalyst does not dedupe a
    // multiply-referenced aggregate subtree)
    val tc = tokenBuckets(target, buckets).groupBy(col("b"))
      .agg(count(lit(1)).as("tc"))
    val totals = tc.agg(coalesce(sum(col("tc")), lit(0L)).as("tt"))
      .crossJoin(rc.agg(coalesce(sum(col("rc")), lit(0L)).as("rt")))
    graft.plans.Shared(rc.join(tc, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (round(log((coalesce(col("tc"), lit(0L)) + lit(1L)).cast("double") /
            (col("tt") + b).cast("double")), 6).cast("decimal(18,6)")
          - round(log((col("rc") + lit(1L)).cast("double") /
            (col("rt") + b).cast("double")), 6).cast("decimal(18,6)"))
          .as("lam")), rc, tc)
  }

  /** Persist the x153 DSIR model: the B-row λ table (bucket →
    * DECIMAL(18,6) log-ratio) fit once from a (raw, target) corpus pair
    * — the frozen artifact the live gate
    * ([[graft.streaming.StreamingOps.dsirStream]]) scores arriving
    * documents against (the madStream/clipStream frozen-baseline
    * discipline; at B = 256..10^5 the artifact is KBs). Published
    * atomically. Buckets NO raw document touched carry no row — the
    * live face treats them as λ = the all-smoothing ratio is absent, so
    * such tokens contribute nothing, exactly like the batch face where
    * they cannot occur. */
  def saveDsirModel(raw: DataFrame, target: DataFrame, path: String,
                    buckets: Int = DsirBuckets): Unit =
    graft.core.Artifacts.publishAtomic(raw.sparkSession, path) { tmp =>
      dsirLambda(
          tokenBuckets(raw, buckets).groupBy(col("b"))
            .agg(count(lit(1)).as("rc")),
          target, buckets)
        .write.mode("overwrite").parquet(s"$tmp/lambda")
    }

  /** Score documents against a frozen λ table (the body both the
    * batch-vs-model spec face and the streaming gate share): per doc,
    * the count of MODELED tokens (bucket present in λ) and their avg λ —
    * identical arithmetic to [[dsirWeights]]' scoring tail when every
    * token is modeled (same-corpus replay; spec-asserted). explode_outer
    * keeps zero-token docs in the report (n_tokens 0, null weight — the
    * oovStream discipline); a token in an unmodeled bucket contributes
    * to neither numerator nor denominator. */
  def dsirScoreAgainst(docs: DataFrame, lambda: DataFrame,
                       buckets: Int = DsirBuckets): DataFrame =
    docs
      .select(col("doc_id"),
        explode_outer(graft.functions.expressions.NativeExpressions
          .md5BucketTokens(graft.operators.TextAnalysis.wsTokens(col("text")),
            DsirSalt, buckets, bigrams = false)).as("b"))
      .join(broadcast(lambda), Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("lam")).as("n_tokens"),
        (sum(col("lam")).cast("double") / count(col("lam"))).as("avg_lr"))

  /** The x153 queries() face: src0 is the curated target (the corpus
    * every other source is scored against); everything else is raw. */
  def dsirQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    dsirWeights(docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
      .orderBy(col("doc_id"))
  }

  def curriculumQuery(spark: SparkSession, dir: String): DataFrame =
    curriculumBands(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** x150's FROZEN BAND EDGES: each band's lowest n_tokens under the
    * reference corpus's exact rank-based assignment — the ≤`bands`-row
    * artifact the live curriculum gate
    * ([[graft.streaming.StreamingOps.curriculumStream]]) assigns
    * against (the madStream/clipStream frozen-baseline discipline:
    * compute the boundary batch-side once, broadcast it, gate live
    * rows statelessly). A document lands in the HIGHEST band whose
    * edge ≤ its n_tokens, so a live doc tied exactly on a boundary
    * value goes to the upper band (the batch face splits such ties by
    * doc_id rank — the one divergence a value-only gate can't see;
    * tie-free corpora replay exactly, spec-asserted). */
  def curriculumEdgesOf(docs: DataFrame, bands: Int = CurriculumBands,
                        numPartitions: Int = 0): DataFrame =
    curriculumBands(docs, bands, numPartitions)
      .groupBy(col("band")).agg(min(col("n_tokens")).as("lo"))

  // ----------------------------- DoReMi domain reweighting (x156)

  /** x156's bucket count, hash salt, step size and smoothing mix,
    * shared with the DuckDB oracle. */
  private[graft] val DoremiBuckets: Int = 256
  private[graft] val DoremiSalt: String = "doremi"
  private[graft] val DoremiEta: Double = 1.0
  private[graft] val DoremiSmooth: Double = 0.2
  /** 1 − [[DoremiSmooth]] as its OWN literal: computing `1.0 - 0.2` in
    * IEEE gives 0.7999…889 while the twin's parsed "0.8" is
    * 0.8000…044 — the two engines must start from the same double. */
  private[graft] val DoremiKeep: Double = 0.8

  /** x156: DOREMI-STYLE DOMAIN REWEIGHTING (Xie et al. 2023,
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining"): one exponentiated-gradient step over the
    * per-domain mixture weights, upweighting domains with EXCESS LOSS.
    * The published method measures excess loss as proxy-model minus
    * reference-model loss per domain; a data engine has no models, so
    * this face uses the principled stand-in it CAN measure exactly:
    * each domain's cross-entropy under the corpus-wide hashed-token
    * unigram distribution, in excess of the corpus's own entropy — a
    * domain whose tokens are corpus-rare "surprises" the corpus model
    * exactly like a high-loss domain surprises the reference (real
    * deployments feed measured per-domain losses into the same update;
    * the update arithmetic is what this operator owns). Update:
    * α_s ∝ exp(η·excess_s), then mixed (1−c)·softmax + c·uniform —
    * the paper's smoothing. The x68 temperature mixer reweights by
    * SIZE alone; x156 reweights by distributional NEED, and its output
    * column drives the same [[keepAtRate]] sampler.
    *
    * Determinism: bucket log-probs round-at-6 into DECIMAL(18,6) (the
    * x153 model); each domain's Σ c_sb·lp_b is an exact decimal dot
    * product with ONE double division per domain; excess rounds at 6
    * BEFORE exp, exp rounds at 6 into DECIMAL for the exact
    * normalization sum; the final weight is one double division plus
    * literal-constant arithmetic (the x148 linear-form discipline).
    *
    * Scale shape: the domain grain is SMALL (tens of sources) — every
    * table after the one (source, bucket) hash aggregate is K- or
    * B-row; the corpus marginal derives FROM the per-source aggregate
    * so both subtrees root in one exchange (exchange reuse, the x153
    * discipline). The corpus never shuffles wider than
    * (source, bucket, count). */
  def doremiWeights(docs: DataFrame,
                    buckets: Int = DoremiBuckets): DataFrame = {
    require(buckets > 0, s"doremiWeights: buckets=$buckets")
    val sbc = docs
      .select(col("source"),
        explode(graft.operators.TextAnalysis.wsTokens(col("text"))).as("t"))
      .select(col("source"),
        (hashBucket(col("t"), DoremiSalt) % buckets).as("b"))
      .groupBy(col("source"), col("b")).agg(count(lit(1)).as("n"))
    // Every total past sbc rides an unbounded window over the B-row /
    // K-row frame it totals, NOT a crossJoin(broadcast(agg)) pair: the
    // agg form referenced each small frame from two subtrees, so the
    // chain re-executed per reference — ~30 tiny stages measured on the
    // x160 face. The window frames are bounded by construction (≤
    // `buckets` rows / one row per source); values are identical (same
    // exact decimal sums, order-independent). The corpus-sized work is
    // still exactly one (source, bucket) hash aggregate.
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    // bucket log-prob under the corpus model (negative; rounded decimal),
    // with the corpus entropy H = −Σ_b cn·lp / N carried per bucket row
    val lp = sbc.groupBy(col("b")).agg(sum(col("n")).as("cn"))
      .withColumn("nn", sum(col("cn")).over(wAll))
      .select(col("b"), col("cn"), col("nn"),
        round(log(col("cn").cast("double") / col("nn").cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
      .withColumn("h",
        (-sum(col("cn") * col("lp")).over(wAll).cast("double")) / col("nn"))
    val ce = sbc.join(broadcast(lp.select(col("b"), col("lp"), col("h"))), Seq("b"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"),
        (-sum(col("n") * col("lp")).cast("double") / sum(col("n")))
          .as("ce"),
        first(col("h")).as("h"))
    val ex = ce
      .select(col("source"), col("n_tokens"), col("ce"),
        greatest(round(col("ce") - col("h"), 6), lit(0.0d)).as("excess"))
      .withColumn("e",
        round(exp(lit(DoremiEta) * col("excess")), 6).cast("decimal(18,6)"))
    ex
      .withColumn("se", sum(col("e")).over(wAll))
      .withColumn("k", count(lit(1)).over(wAll).cast("double"))
      .select(col("source"), col("n_tokens"), col("ce"), col("excess"),
        (lit(DoremiKeep)
          * (col("e").cast("double") / col("se").cast("double"))
          + lit(DoremiSmooth) / col("k")).as("weight"))
  }

  def doremiQuery(spark: SparkSession, dir: String): DataFrame =
    doremiWeights(Tables.load(spark, dir, "documents"))
      .orderBy(col("source"))

  // ------------------------------ data-budget planner (x160)

  /** x160's defaults, shared with the DuckDB oracle: repeat a source at
    * most [[BudgetEpochCap]] times (the Muennighoff et al. 2023
    * "Scaling Data-Constrained Language Models" finding — value decays
    * past ~4 epochs), and the query face plans for a budget of
    * [[BudgetFactor]] × the corpus's own token count. */
  private[graft] val BudgetEpochCap: Double = 4.0
  private[graft] val BudgetFactor: Double = 2.0

  /** x160: THE DATA-BUDGET PLAN — turn the x156 mixture weights into
    * per-domain token allocations under a total training budget and an
    * epoch cap: demand_s = B·w_s, alloc_s = min(demand_s,
    * cap·tokens_s), epochs_s = alloc_s/tokens_s. This is the table a
    * data-constrained pretraining run is provisioned from (Muennighoff
    * et al. 2023: sources repeat up to ~4 epochs before marginal value
    * dies): x156 says how much each domain SHOULD contribute, x160 says
    * how much it CAN, and the gap (demand − alloc, summed) is the
    * budget the curator must re-source. Single-pass by contract — the
    * capped surplus is REPORTED, not redistributed (iterative
    * water-filling is a consumer loop over this K-row table).
    *
    * Determinism: demand is one round-at-6 on B·w (both engines build
    * the identical weight doubles — x156's discipline); the cap side
    * cap·tokens is exact double arithmetic on integers; `least` and the
    * final ratio round-at-6 follow. Scale shape: everything after
    * x156's one corpus scan is K-row. */
  def dataBudget(docs: DataFrame, budgetFactor: Double = BudgetFactor,
                 epochCap: Double = BudgetEpochCap): DataFrame = {
    require(budgetFactor > 0 && epochCap > 0,
      s"dataBudget: budgetFactor=$budgetFactor epochCap=$epochCap")
    val w = doremiWeights(docs)
    // K-row total via unbounded window, not crossJoin(agg) — see
    // doremiWeights (the agg form re-ran the whole weight chain per
    // reference); empty-corpus behavior unchanged (both forms emit
    // zero rows).
    w.withColumn("_t",
        sum(col("n_tokens")).over(org.apache.spark.sql.expressions.Window
          .rowsBetween(Long.MinValue, Long.MaxValue)).cast("double"))
      .withColumn("demand",
        round(lit(budgetFactor) * col("_t") * col("weight"), 6))
      .withColumn("alloc",
        least(col("demand"), lit(epochCap) * col("n_tokens").cast("double")))
      .withColumn("epochs",
        round(col("alloc") / col("n_tokens").cast("double"), 6))
      .select(col("source"), col("n_tokens"), col("weight"),
        col("demand"), col("alloc"), col("epochs"))
  }

  def dataBudgetQuery(spark: SparkSession, dir: String): DataFrame =
    dataBudget(Tables.load(spark, dir, "documents"))
      .orderBy(col("source"))

  // ---------------------------- CCNet perplexity buckets (x159)

  /** x159's band count, shared with the DuckDB oracle. */
  private[graft] val CcnetBuckets: Int = 3

  /** x159: CCNET PERPLEXITY BUCKETS (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): rank every document by its x67 LM score (mean bigram
    * log-probability — higher reads more fluent) and split the scored
    * population into [[CcnetBuckets]] equal rank bands: at the default
    * 3, band 2 is the published "head" (kept for pretraining), 1 the
    * "middle", 0 the "tail" (dropped or down-sampled). This is the
    * selection rule the CCNet pipeline runs after its LM pass — x67
    * produces the score, x159 turns it into the curation decision
    * grain, and the x40/x19 samplers consume the band. Docs with no
    * bigrams carry a null rank/bucket (a report, not a filter).
    *
    * Shape: the LM report is read ONCE, by the global rank — the x150
    * distributed prefix scan, never a single-task Window sort. Docs
    * without a score ride through the same scan in their own group and
    * come out with a null rank, and the band denominator is the scored
    * group's size, which the scan already collected; no second read of
    * the x67 pipeline. The band arithmetic is exact integers. */
  def ccnetBuckets(docs: DataFrame, buckets: Int = CcnetBuckets,
                   numPartitions: Int = 0): DataFrame = {
    require(buckets > 0, s"ccnetBuckets: buckets=$buckets")
    val scored = graft.operators.TextAnalysis.lmDocScore(docs)
      .withColumn("_unscored", col("avg_logp").isNull)
      .withColumn("_one", lit(1L))
    val (ranked, sizes) = prefixScan(scored, Seq("_unscored"),
      Seq(col("avg_logp"), col("doc_id")), "_one", "_rk", numPartitions)
    val n = math.max(sizes.getOrElse(List(false), 0L), 1L)
    ranked.select(col("doc_id"), col("n_bigrams"), col("avg_logp"),
      when(!col("_unscored"), col("_rk")).as("rank"),
      when(!col("_unscored"), expr(s"($buckets * (_rk - 1)) div ${n}L"))
        .as("bucket"))
  }

  def ccnetBucketsQuery(spark: SparkSession, dir: String): DataFrame =
    ccnetBuckets(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** The x159 band edges as a frozen ≤`buckets`-row artifact: each
    * band's minimum score. A live gate assigns an arriving document the
    * highest band whose edge ≤ its frozen-model LM score
    * ([[graft.streaming.StreamingOps.lmGateStream]]) — the
    * curriculumEdgesOf shape at the score grain. Value-only assignment
    * equals the batch rank-based bands wherever no two docs tie exactly
    * at a band edge (the x150 boundary-tie caveat, spec-asserted on a
    * tie-free regime). */
  def ccnetEdgesOf(docs: DataFrame, buckets: Int = CcnetBuckets,
                   numPartitions: Int = 0): DataFrame =
    ccnetBuckets(docs, buckets, numPartitions)
      .filter(col("bucket").isNotNull)
      .groupBy(col("bucket")).agg(min(col("avg_logp")).as("lo"))

  /** The x156 weights as a frozen (source, rate) KEEP-RATE artifact:
    * each mixture weight normalized by the maximum, so the most-needed
    * domain keeps everything and the rest thin proportionally. Feed
    * [[applyRates]] — including on a STREAM
    * ([[graft.streaming.StreamingOps.temperatureMixStream]]) — to admit
    * later data at the DoReMi balance: the same frozen-gate discipline
    * as [[temperatureRatesOf]], with need-driven rates in place of
    * size-driven ones (spec-asserted composition). */
  def doremiRatesOf(docs: DataFrame,
                    buckets: Int = DoremiBuckets): DataFrame = {
    val wts = doremiWeights(docs, buckets).select(col("source"), col("weight"))
    val top = wts.agg(max(col("weight")).as("_w_max"))
    wts.crossJoin(broadcast(top))
      .select(col("source"), (col("weight") / col("_w_max")).as("rate"))
  }
}
