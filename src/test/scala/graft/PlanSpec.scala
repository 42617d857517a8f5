package graft

/** Physical-plan quality gates (the 100 TB discipline, testable at any
  * scale): filters and projections must reach the parquet scan, small
  * dimensions must broadcast, top-k must not global-sort, and the hot
  * expressions must be the native ones. Plan strings are stable enough
  * for these coarse assertions.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001")).queryExecution.executedPlan.toString

  /** Count the LIVE FileScans of a physical plan — structurally, not
    * by string parsing (nested-AQE rendering re-bases `== Final Plan
    * ==` sections shallower than their parent, so indentation is not
    * a tree). Descends across AQE boundaries (AdaptiveSparkPlanExec /
    * QueryStageExec are leaf nodes to `collect`) and into subquery
    * plans, and STOPS at InMemoryTableScanExec: everything beneath a
    * cache hit is the cached relation's build plan, rendered but not
    * live work — so the count is cache-state- and suite-order-free. */
  private def liveFileScans(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p match {
      case a: AdaptiveSparkPlanExec  => liveFileScans(a.executedPlan)
      case q: QueryStageExec         => liveFileScans(q.plan)
      case _: InMemoryTableScanExec  => 0
      case _: FileSourceScanExec     => 1
      case other => (other.children ++ other.subqueries).map(liveFileScans).sum
    }
  }

  test("q01: filter and projection are pushed to the parquet scan") {
    val p = plan("q01_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate") && p.contains("l_discount"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema") &&
      !p.contains("l_partkey") && !p.contains("l_tax"),
      s"unneeded columns read:\n$p")
  }

  test("q03: dimension joins are broadcast (no fact shuffle)") {
    val p = plan("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ for tiny dims:\n$p")
  }

  test("q04: top-k compiles to TakeOrderedAndProject") {
    val p = plan("q04_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q06: semi/anti joins use semi/anti physical joins") {
    assert(plan("q06_semi_join").contains("LeftSemi"))
    assert(plan("q06_anti_join").contains("LeftAnti"))
  }

  test("q02: aggregation is two-phase (partial + final)") {
    val p = plan("q02_agg")
    assert(p.contains("HashAggregate"), s"expected hash aggregate:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final:\n$p")
  }

  test("x05: query side of brute-force knn is broadcast") {
    val p = plan("x05_cosine_knn")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set should broadcast:\n$p")
    assert(p.contains("cosine_sim"), s"native cosine expression not in plan:\n$p")
  }

  test("x02: minhash uses the native signature expression") {
    val p = plan("x02_minhash_pairs")
    assert(p.contains("minhash_signature"), s"native minhash not in plan:\n$p")
  }

  test("x02/x03/x04/x06: signature+ANN expressions are fully codegen'd (no CodegenFallback)") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    for (q <- Seq("x02_minhash_pairs", "x03_ngram_pairs", "x04_simhash",
                  "x06_ann_lsh", "x06_ann_ivf", "x12_repetition",
                  "x13_dup_spans", "x16_decontaminate", "x17_quant_knn")) {
      val exec = SparkEntry.queries(q)(spark, sf("sf0.001")).queryExecution.executedPlan
      val fallbacks = exec.flatMap(node =>
        node.expressions.flatMap(_.collect { case cf: CodegenFallback => cf }))
        .map(_.getClass.getSimpleName).distinct
      assert(fallbacks.isEmpty,
        s"$q still evaluates interpreted expressions: ${fallbacks.mkString(", ")}")
    }
  }

  test("as-of optimizer rules: pushdown, pruning, and elimination reach through the node") {
    import org.apache.spark.sql.functions._
    import graft.operators.AsOfJoin
    val ev = graft.core.Tables.load(spark, sf("sf0.001"), "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("props"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("value").as("purchase_value"))
    val joined = AsOfJoin.asOfNative(clicks, purchases, "user_id", "ts", "pts")

    // (1) a filter applied ABOVE the join reaches the left scan's
    // PushedFilters — stock Catalyst stops at an unknown node
    val filtered = joined.filter(col("user_id") < 5)
    val fp = filtered.queryExecution.executedPlan.toString
    assert(fp.contains("LessThan(user_id,5)"), s"filter not pushed through as-of node:\n$fp")
    val expected = joined.collect().filter(r => r.getLong(1) < 5).map(_.toString).sorted.toSeq
    assert(filtered.collect().map(_.toString).sorted.toSeq == expected)

    // (2) a narrow projection prunes unused left pass-through columns
    // from the scan (props never read)
    val narrow = joined.select(col("event_id"), col("purchase_value"))
    val np = narrow.queryExecution.executedPlan.toString
    assert(!np.contains("props"), s"unused left column not pruned below as-of node:\n$np")

    // (3) when no payload is referenced the join is eliminated entirely
    val elided = joined.select(col("event_id"))
    val ep = elided.queryExecution.optimizedPlan.toString
    assert(!ep.contains("AsOfJoin"), s"payload-free as-of join not eliminated:\n$ep")
    assert(elided.count() == clicks.count())
  }

  test("z-order layout prunes row groups for point filters on BOTH dimensions") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val ev = graft.core.Tables.load(spark, sf("sf0.01"), "events")
      .select(col("event_id"), col("user_id"), col("value"), col("ts"))
    val root = tempDir("layout").toString
    // naive layout: clustered on time only — user_id/value smeared evenly
    ev.repartitionByRange(16, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(s"$root/by_ts")
    graft.operators.Layout.zorderWrite(ev, col("user_id"), col("value"),
      s"$root/by_z", numFiles = 16)

    // rows surviving the scan = rows of row groups NOT skipped by the
    // pushed min/max filter; fewer = better layout for that predicate
    def scanned(path: String, cond: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(path).filter(cond)
      // collect() (not foreach/rdd) so the metrics accumulate on THIS
      // QueryExecution — Dataset.rdd spawns a separate one
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }.sum
    }
    val total = ev.count()
    // mid-band value predicate: the value column's upper tail clusters in
    // time (per-day max varies 275..490), so a tail filter would prune
    // even on the ts layout; a mid band exists on every day
    for (cond <- Seq(col("user_id") === 7, col("value").between(200.0, 210.0))) {
      val naive = scanned(s"$root/by_ts", cond)
      val z = scanned(s"$root/by_z", cond)
      info(s"$cond: naive layout scans $naive rows, z-order scans $z (of $total)")
      assert(naive > total / 2, s"naive layout unexpectedly pruned $cond")
      assert(z < naive / 2,
        s"z-order failed to prune $cond: scanned $z vs naive $naive")
    }
  }

  test("bucketed co-located join and its follow-on agg plan with ZERO exchange") {
    import org.apache.spark.sql.functions._
    val li = graft.core.Tables.load(spark, sf("sf0.001"), "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = graft.core.Tables.load(spark, sf("sf0.001"), "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    for (t <- Seq("li_bucketed", "ord_bucketed")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.core.Fs.deleteRecursively(new java.io.File(s"spark-warehouse/$t"))
    }
    graft.operators.Layout.bucketWrite(li, "l_orderkey", 8, "li_bucketed")
    graft.operators.Layout.bucketWrite(ord, "o_orderkey", 8, "ord_bucketed")
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("q"), max(col("o_totalprice")).as("p"))
      assert(q.count() > 0)
      val p = q.queryExecution.executedPlan.toString
      // the whole join+agg pipeline runs on the write-time bucketing:
      // no shuffle anywhere, for THIS query and every future one
      assert(!p.contains("Exchange"),
        s"bucketed join/agg still shuffles:\n$p")
    } finally {
      saved.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    import org.apache.spark.sql.functions._
    // The optimizer's InjectRuntimeFilter: a selective filter on the
    // small (creation) side of a shuffle join becomes a bloom filter
    // evaluated on the probe side BEFORE the shuffle — at 100 TB that is
    // the difference between shuffling the whole fact table and shuffling
    // the ~1% of it that can possibly match. Thresholds are tuned for
    // test-scale data; the plan shape is what's being gated.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = graft.core.Tables.load(spark, sf("sf0.01"), "lineitem")
      val part = graft.core.Tables.load(spark, sf("sf0.01"), "part")
        .filter(col("p_size") === 1)
      val j = li.join(part, li("l_partkey") === part("p_partkey"))
        .select(col("l_orderkey"), col("p_name"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), s"no runtime bloom filter injected:\n$p")
      assert(j.count() > 0)
    } finally saved.foreach { case (k, vo) =>
      vo.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("bucketed tables join without a shuffle exchange") {
    // pre-partitioned (bucketed) storage is the batch answer to
    // co-located joins at scale: both sides hash-bucketed on the join
    // key => SortMergeJoin with zero Exchange.
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // DROP on a missing catalog entry leaves any orphaned location behind
    // (e.g. from an interrupted earlier run) — clear it explicitly
    for (t <- Seq("b_orders", "b_lineitem"))
      graft.core.Fs.deleteRecursively(new java.io.File(s"spark-warehouse/$t"))
    graft.core.Tables.load(spark, sf("sf0.001"), "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    graft.core.Tables.load(spark, sf("sf0.001"), "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // force a merge join (tiny test tables would auto-broadcast, which
    // bypasses bucketing entirely); the assertion is about SHUFFLE
    // exchanges — broadcast exchanges are not data movement of the facts
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$plan")
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketing not used:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE b_orders")
      spark.sql("DROP TABLE b_lineitem")
    }
  }

  test("q20: sensor pipeline probes the dimension without a join and avoids window sort") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val exec = SparkEntry.queries("q20_sensor_pipeline")(spark, sf("sf0.001"))
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val p = exec.toString
    assert(exec.collect { case j: BaseJoinExec => j }.isEmpty, s"dim lookup should not join:\n$p")
    assert(exec.collect { case b: BroadcastExchangeExec => b }.isEmpty,
      s"dim lookup should not plan a broadcast exchange:\n$p")
    // the dedup exchange hashes on the PK, and nothing beneath it moves
    // the readings: parse, enrich and rename all run map-side
    val dedupExchanges = exec.collect {
      case e @ ShuffleExchangeExec(h: HashPartitioning, _, _, _)
        if h.expressions.collect { case a: Attribute => a.name }.toSet ==
          graft.pipeline.SensorPipeline.pkCols.toSet => e
    }
    assert(dedupExchanges.size == 1, s"expected one PK-hash dedup exchange:\n$p")
    assert(dedupExchanges.head.child.collect { case e: Exchange => e }.isEmpty,
      s"readings are shuffled before the dedup exchange:\n$p")
    assert(p.contains("max_by"), s"dedup should be max_by aggregation:\n$p")
    assert(!p.contains("Window"), s"dedup should not use a window sort:\n$p")
  }

  test("SensorStream.transform parses each line once and plans no join") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lines = MemoryStream[String]
    val dim = graft.pipeline.SensorPipeline.loadDim(spark, Fixtures.sensorDim)
    val q = graft.streaming.SensorStream.transform(lines.toDF(), dim)
      .writeStream.format("noop").start()
    // the plan of a micro-batch as the stream ran it
    val optimized =
      try {
        lines.addData(scala.io.Source.fromFile(Fixtures.sensorNdjson).getLines().take(50).toSeq)
        q.processAllAvailable()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
      } finally q.stop()
    val p = optimized.toString
    def calls(matches: Expression => Boolean): Int =
      optimized.flatMap(_.expressions.flatMap(_.collect { case e if matches(e) => e })).size
    val fromJson = calls(_.prettyName == "from_json")
    // json_object_keys is runtime-replaced by a static invoke during optimization
    val objectKeys = calls {
      case i: StaticInvoke => i.functionName == "jsonObjectKeys"
      case e => e.prettyName == "json_object_keys"
    }
    assert(fromJson == 1, s"from_json evaluated $fromJson times:\n$p")
    assert(objectKeys == 1, s"json_object_keys evaluated $objectKeys times:\n$p")
    assert(optimized.collect { case j: Join => j }.isEmpty, s"transform should not join:\n$p")
  }

  test("SensorStream.transform probes the dimension once per row") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lines = MemoryStream[String]
    val dim = graft.pipeline.SensorPipeline.loadDim(spark, Fixtures.sensorDim)
    val q = graft.streaming.SensorStream.transform(lines.toDF(), dim)
      .writeStream.format("noop").start()
    // the physical plan of a micro-batch as the stream ran it; the
    // dimension probe is the transform's only UDF
    val executed =
      try {
        lines.addData(scala.io.Source.fromFile(Fixtures.sensorNdjson).getLines().take(50).toSeq)
        q.processAllAvailable()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      } finally q.stop()
    val probes = executed.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    assert(probes.size == 1, s"the dimension probe is evaluated ${probes.size} times:\n$executed")
  }

  test("x19/x20: sampling decisions never read the text column") {
    // split keys on doc_id, mix on doc_id+source — a scan that drags the
    // documents' text payload through a sampling decision is the 100 TB
    // bug these exist to avoid
    val split = plan("x19_split")
    assert(split.contains("ReadSchema") && !split.contains("text"),
      s"x19 reads more than doc_id:\n$split")
    val mix = plan("x20_mix")
    assert(!mix.contains("text"), s"x20 reads more than doc_id+source:\n$mix")
  }

  test("x21: packing windows within shards, no global single-partition sort") {
    val p = plan("x21_pack")
    assert(p.contains("Window"), s"expected a window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"packing must not serialize through one partition:\n$p")
  }

  test("x37: heap stratified sample partial-aggregates, no per-stratum window sort") {
    val p = plan("x37_stratified_heap")
    // the bounded-heap UDAF must run as partial + final object-hash
    // aggregation (map-side combine is the whole point of the plan)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
    assert(!p.contains("Window"),
      s"heap form must not fall back to the window sort:\n$p")
  }

  test("x40: weighted sample is a bounded top-n, not a global sort or window") {
    val p = plan("x40_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition bounded top-n:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
  }

  test("x46: corpus is semi-join-pruned to candidate ids before the verify join") {
    val p = plan("x46_jaccard_pairs")
    assert(p.contains("LeftSemi"),
      s"expected the candidate-id semi-join prune before shingling:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"verify must stay equi-join-shaped:\n$p")
  }

  /** LIVE nodes of an executed plan, structurally (the liveFileScans
    * traversal): descends AQE boundaries and subqueries, and stops at a
    * ReusedExchange (its subtree is the original exchange's, computed
    * once) and at a cache hit. */
  private def liveNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case a: AdaptiveSparkPlanExec => liveNodes(a.executedPlan)
      case q: QueryStageExec        => liveNodes(q.plan)
      case _: ReusedExchangeExec | _: InMemoryTableScanExec => Seq(p)
      case other => other +: (other.children ++ other.subqueries).flatMap(liveNodes)
    }
  }

  test("x87/x46: candidate pairs are mined ONCE (one shared CTE); one live gram pipeline") {
    import org.apache.spark.sql.catalyst.plans.logical.{CTERelationDef, CTERelationRef}
    import org.apache.spark.sql.execution.{FileSourceScanExec, ProjectExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
    for (name <- Seq("x87_containment", "x46_jaccard_pairs")) {
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      // every reference to the mined pair set (the verify probe plus the
      // id-prune semi-join) reads ONE shared CTE definition
      val analyzed = df.queryExecution.analyzed
      val defs = analyzed.collectWithSubqueries { case d: CTERelationDef => d }
      assert(defs.size == 1 && defs.head.child.exists(_.isInstanceOf[graft.plans.SharedDef]),
        s"$name: expected one shared candidate definition:\n$analyzed")
      val refs = analyzed.collectWithSubqueries { case r: CTERelationRef => r }
      assert(refs.size == 3 && refs.forall(_.cteId == defs.head.id),
        s"$name: expected the candidate definition read 3x, got ${refs.size}:\n$analyzed")
      df.collect()
      val live = liveNodes(df.queryExecution.executedPlan)
      // the definition executes once: one live exchange carries the
      // (d1, d2) pairs, and the other references reuse it (directly, or
      // inside a reused stage above it)
      def isPairs(e: org.apache.spark.sql.execution.SparkPlan) = e match {
        case x: ShuffleExchangeExec =>
          x.shuffleOrigin == REPARTITION_BY_NUM && x.output.map(_.name) == Seq("d1", "d2")
        case _ => false
      }
      val pairExchanges = live.filter(isPairs)
      assert(pairExchanges.size == 1,
        s"$name: expected one live candidate exchange, got ${pairExchanges.size}")
      val reused = live.collect { case r: ReusedExchangeExec if isPairs(r.child) => r }
      assert(reused.nonEmpty && reused.forall(_.child.canonicalized == pairExchanges.head.canonicalized),
        s"$name: the other candidate reads must reuse the exchange:\n${df.queryExecution.executedPlan}")
      // one live gram pipeline: the miner's corpus scan runs once, and
      // besides it only the two verify legs scan (was 3 miner scans
      // unshared); outside the miner only the verify-side shingle
      // projection remains, duplicated across the two legs. Count
      // Projects only: the pushed size(shingles)>0 filter repeats the
      // expression in its Filter node by design.
      assert(live.count(_.isInstanceOf[FileSourceScanExec]) == 3,
        s"$name: expected one miner scan plus the two verify-leg scans")
      val liveShingles = live.collect { case p: ProjectExec => p }.count(_.expressions
        .exists(_.exists(_.isInstanceOf[graft.functions.expressions.WordShingles])))
      assert(liveShingles == 2,
        s"$name: expected the two verify-leg shingle projections only, " +
          s"got $liveShingles:\n${df.queryExecution.executedPlan}")
    }
  }

  test("x147/x148/x154: quality gates are shuffle-free narrow projections") {
    for (name <- Seq("x147_gopher_rules", "x148_readability", "x154_line_rep")) {
      val p = plan(name)
      // the ONLY exchange is the presentation ORDER BY's range
      // partitioning; the gate itself must stay map-side (at 100 TB it
      // fuses into whatever scan consumes it)
      assert("Exchange".r.findAllIn(p).size == 1,
        s"$name: gate must not shuffle:\n$p")
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"$name: gate must be a pure projection:\n$p")
    }
  }

  test("x150/x159: the global rank has no window — the prefix scan carries it") {
    val p150 = plan("x150_curriculum")
    assert(!p150.contains("Window"),
      s"x150: global rank fell back to a single-task window sort:\n$p150")
    // x159's LM body legitimately windows over the VOCABULARY-grain
    // aggregate (x67's context marginal); the gate is that no window
    // carries the global (avg_logp, doc_id) rank
    val p159 = plan("x159_ccnet_buckets")
    assert(!p159.linesIterator.exists(l =>
        l.contains("Window") && l.contains("avg_logp")),
      s"x159: global rank fell back to a single-task window sort:\n$p159")
  }

  test("x151: excision probes via semi-join and rewrites at doc grain") {
    val p = plan("x151_contam_excise")
    assert(p.contains("LeftSemi"),
      s"expected the reference-gram semi-join probe:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"probe must stay equi-join-shaped:\n$p")
    // the rewrite is filter-with-index INSIDE the row after ONE
    // doc-grain join — a per-(doc, pos) anti-join (token-grain shuffle
    // of the whole corpus) must never come back
    assert(!p.contains("LeftAnti"),
      s"token-grain anti-join resurfaced:\n$p")
  }

  test("x155/x156: model tables broadcast; no unkeyed product; no corpus-grain window") {
    for (name <- Seq("x155_nb_quality", "x156_doremi")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name: unkeyed product in the model pipeline:\n$p")
      // the B-row weight/log-prob table must ride a broadcast into the
      // scoring join — the corpus side must never shuffle for the model
      assert(p.contains("BroadcastHashJoin"),
        s"$name: model table is not broadcast:\n$p")
    }
    // x155 stays window-free outright; x156's totals ride unbounded
    // windows over the BOUNDED bucket/source frames (the round-19
    // crossJoin(agg) rewrite) — assert no Window ever touches the
    // token-grain columns (a corpus-grain window sort is the regression
    // this gate exists to catch)
    assert(!plan("x155_nb_quality").contains("Window"),
      "x155: window crept into an aggregate-only pipeline")
    val p156 = plan("x156_doremi")
    val winLines = p156.linesIterator.filter(_.contains("Window [")).toSeq
    // the bounded-total windows carry NO partition/order keys — their
    // spec prints as windowspecdefinition(specifiedwindowframe(...)
    // directly; a corpus-grain window (per-doc rank/sort) would carry
    // partition or order expressions before the frame
    assert(winLines.nonEmpty && winLines.forall(
        _.contains("windowspecdefinition(specifiedwindowframe")),
      s"x156: a window carries corpus-grain partition/order keys:\n" +
        winLines.mkString("\n"))
  }

  test("x158: the projection plan is scan-and-map — the axis rides as a literal") {
    val p = plan("x158_pca_proj")
    // the Gram aggregate + driver iteration happen at plan-BUILD time
    // on d² rows; the emitted per-corpus plan must be x147-class: one
    // presentation-sort exchange, no join, no aggregate — at 100 TB the
    // projection fuses into whatever scan consumes it
    assert("Exchange".r.findAllIn(p).size == 1,
      s"projection must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"projection must be a pure map over the corpus:\n$p")
  }

  test("x157: self-excision consumes the occurrence stream once; rewrite stays at doc grain") {
    val p = plan("x157_self_excise")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"probe must stay equi-join-shaped:\n$p")
    // the rewrite is filter-with-index INSIDE the row (x151's tail) — a
    // per-(doc, pos) anti-join must never come back
    assert(!p.contains("LeftAnti"),
      s"token-grain anti-join resurfaced:\n$p")
    // round 20: per-gram count+keeper are WINDOW functions over one
    // gram-keyed exchange — the former aggregate+join-back pair re-ran
    // the whole positional explode as the probe side (A/B'd at 8 and 32
    // cores, OPTIMIZATION_r20.md §3). Exactly one explode generator may
    // appear, and the gram-keyed window must be present.
    assert(p.contains("Window"), s"gram-window keeper/count missing:\n$p")
    val explodes = p.linesIterator.count(l =>
      l.contains("Generate posexplode"))
    assert(explodes == 1,
      s"positional explode must run once, found $explodes:\n$p")
  }

  test("x152: probe joins on hashed gram keys, never gram text; no unkeyed product") {
    val p = plan("x152_leak_probe")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"probe must stay equi-join-shaped:\n$p")
    // the join key is the 8-byte xxhash64 image — gram TEXT must not be
    // a join key anywhere (the x44 narrow-shuffle discipline)
    assert(p.contains("xxhash64"), s"hashed gram key missing from plan:\n$p")
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.nonEmpty, s"no join in the probe plan:\n$p")
    val textKeyed = joinLines.filter(l =>
      "gram#\\d+[,\\]]".r.findFirstIn(l).isDefined)
    assert(textKeyed.isEmpty,
      s"a join carries gram text instead of the hash:\n${textKeyed.mkString("\n")}")
  }

  test("x137: lexical postings prune to query grams; queries broadcast; no cross product") {
    val p = plan("x137_hybrid_rrf")
    assert(p.contains("LeftSemi"),
      s"corpus grams must semi-join-prune to the query gram set:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the query set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no unkeyed product anywhere in the fusion:\n$p")
  }

  test("x47: candidate recount broadcasts — the vocabulary tail never shuffles") {
    val p = plan("x47_heavy_hitters")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected a broadcast semi-join on the Misra-Gries candidates:\n$p")
  }

  test("x15/x49: sketch rollups scan the raw table exactly once (grouping sets)") {
    // the union-the-branches form re-scans per rollup level (Catalyst
    // does not dedupe a twice-referenced aggregate) — regression gate
    // for the single-scan Expand shape
    Seq("x15_hll_rollup", "x49_kll_quantiles").foreach { q =>
      val p = plan(q)
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"$q: $scans scans (expected 1):\n$p")
      assert(p.contains("Expand"), s"$q: grouping-sets Expand missing:\n$p")
    }
  }

  test("x48: per-doc top-k pushes a partial WindowGroupLimit before the shuffle") {
    val p = plan("x48_tfidf")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"expected partial+final WindowGroupLimit pair:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    // two scans by design: the tf/df pipeline and the 1-row N stats frame
    assert(scans <= 2, s"x48: $scans scans (expected <= 2):\n$p")
  }

  test("x57: top-N is a TakeOrderedAndProject; windows run over the aggregated table only") {
    val p = plan("x57_ngram_lm")
    assert(p.contains("TakeOrderedAndProject"), s"top-N global-sorts:\n$p")
    // one corpus scan: both continuation windows hang off the aggregate,
    // never a second pass over documents
    assert("Scan parquet".r.findAllIn(p).size == 1, s"expected one corpus scan:\n$p")
    // the count agg is two-phase (partial before the bigram shuffle)
    assert(p.contains("partial_count") || "HashAggregate".r.findAllIn(p).size >= 2,
      s"bigram count not partial-aggregated:\n$p")
  }

  test("x58: percentile bounds join back as a broadcast — the fact side never shuffles for it") {
    val p = plan("x58_winsorize")
    assert(p.contains("BroadcastHashJoin"), s"bounds join should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ:\n$p")
  }

  test("x61: broadcast-calendar selection — no join, no pre-explode shuffle, kernel in codegen") {
    val p = plan("x61_interval_topk")
    assert(!p.contains("Join"), s"x61 should not join at all:\n$p")
    assert(p.contains("interval_topk"), s"native kernel missing:\n$p")
    assert(!p.contains("CodegenFallback"), s"kernel fell out of codegen:\n$p")
    // the only Exchange is the final presentation sort's range
    // partitioning — the selection itself is a pure projection
    assert("Exchange".r.findAllIn(p).size == 1, s"extra shuffle in the selection:\n$p")
  }

  test("x59: the interval join is a binned EQUI join, never a nested loop") {
    val p = plan("x59_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degenerated to a quadratic strategy:\n$p")
    // negative control: the bare BETWEEN join (no bin key) IS a BNLJ —
    // proves the assertion bites and the binning is what avoids it
    val spark2 = spark
    import spark2.implicits._
    val a = Seq((1L, java.sql.Date.valueOf("1995-01-01"), java.sql.Date.valueOf("1995-01-09")))
      .toDF("id", "d0", "d1")
    val b = Seq(Tuple1(java.sql.Date.valueOf("1995-01-05"))).toDF("d")
    val naive = a.join(b, $"d".between($"d0", $"d1"))
    assert(naive.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("x65: the data card (incl. TOTAL row) scans documents exactly once") {
    val p = plan("x65_data_card")
    assert("parquet".r.findAllIn(p.toLowerCase).size >= 1)
    assert("FileScan".r.findAllIn(p).size == 1,
      s"rollup should produce both grouping sets from ONE scan:\n$p")
  }

  test("x68: temperature mix — rates broadcast back, the corpus never shuffles") {
    val p = plan("x68_temp_mix")
    assert(p.contains("BroadcastHashJoin"), s"rates should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the corpus side must not shuffle:\n$p")
  }

  test("x66: length histogram is a two-phase hash agg over a codegen'd bucket projection") {
    val p = plan("x66_length_hist")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final:\n$p")
    assert(!p.contains("CodegenFallback"), s"bucket fell out of codegen:\n$p")
  }

  test("x67/x70: LM marginals are windows over the aggregate, never extra rescans") {
    // x67's static plan: the bigram explode roots both join sides (the
    // no-dedup-of-aggregate-subtrees limitation; their shared first
    // exchange is reused at runtime), plus the vocabulary scalar's scan
    // and the pruned doc_id report frame — 4 static FileScans, and the
    // context marginal must NOT add a fifth (it is a window over the
    // corpus aggregate, not a third aggregate)
    // Nothing caches the LM report across queries, so the plan never
    // depends on which sibling (x159) ran first: it always computes the
    // report itself, live, within the same 4-scan budget
    val e67 = SparkEntry.queries("x67_lm_score")(spark, sf("sf0.001"))
      .queryExecution.executedPlan
    val p67 = e67.toString
    assert(!p67.contains("InMemoryTableScan"), s"x67 read a cached report:\n$p67")
    assert("FileScan".r.findAllIn(p67).size <= 4, s"corpus rescanned:\n$p67")
    assert(liveFileScans(e67) <= 4, s"corpus rescanned live:\n$p67")
    // x70: the grand-total scalar roots in the same count aggregate as
    // the marginals (2 static FileScans whose shared partial-agg
    // exchange is reused at runtime); both marginals are windows, so no
    // third subtree appears
    val p70 = plan("x70_pmi")
    assert("FileScan".r.findAllIn(p70).size <= 2, s"corpus rescanned:\n$p70")
    assert(p70.contains("TakeOrderedAndProject"), s"top-N should not global-sort:\n$p70")
  }

  test("x161: every merge round reads the cached word table — the corpus is scanned once, never per round") {
    import graft.core.Tables
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    val plans = scala.collection.mutable.Map.empty[Int, String]
    val execs = scala.collection.mutable.Map.empty[Int, org.apache.spark.sql.execution.SparkPlan]
    TextAnalysis.bpeMergeTableImpl(docs, 3,
      (step, pairs) => execs(step) = pairs.queryExecution.executedPlan)
    assert(execs.keySet == Set(1, 2, 3), s"probe missed rounds: ${execs.keySet}")
    for ((step, p) <- execs.toSeq.sortBy(_._1)) {
      if (step == 1)
        // round 1 counts over the CACHED word table (the one corpus
        // scan lives under its InMemoryRelation as build plan)
        assert(p.toString.contains("InMemoryTableScan"),
          s"round 1 bypassed the cached word table:\n$p")
      else
        // later rounds read the previous round's LINEAGE-CUT rewrite —
        // a LogicalRDD leaf, so the plan stays constant-size at any k
        assert(p.toString.contains("ExistingRDD"),
          s"round $step is not reading the lineage-cut word table:\n$p")
      // NO round may scan the corpus live
      assert(liveFileScans(p) == 0,
        s"round $step rescanned the corpus (vocabulary-grain contract broken):\n$p")
    }
  }

  test("x163: the fused quality panel is ONE corpus scan and ZERO shuffles") {
    import graft.core.Tables
    import graft.operators.TextAnalysis
    // the panel itself, without the oracle face's presentation orderBy
    val exec = TextAnalysis.qualityPanel(
      Tables.load(spark, sf("sf0.001"), "documents"))
      .queryExecution.executedPlan
    val p = exec.toString
    assert("FileScan".r.findAllIn(p).size == 1,
      s"the run-all-audits panel must read the corpus once:\n$p")
    assert(!p.contains("Exchange"),
      s"a pure projection panel must not shuffle:\n$p")
  }

  test("x164/x166: the damage audit and the span-corruption rewrite are pure shuffle-free projections") {
    import graft.core.Tables
    import graft.operators.DocPrep
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    for ((name, df) <- Seq(
        "x164" -> DocPrep.encodingAudit(docs),
        "x166" -> DocPrep.spanCorruptAudit(docs))) {
      val p = df.queryExecution.executedPlan.toString
      assert("FileScan".r.findAllIn(p).size == 1, s"$name rescans:\n$p")
      assert(!p.contains("Exchange"), s"$name shuffles a pure projection:\n$p")
    }
  }

  test("x165: the whole provisioning grid costs ONE corpus scan (the x144 sweep discipline)") {
    val p = plan("x165_context_sweep")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"grid candidates must not rescan the corpus:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final over the exploded grid:\n$p")
  }

  test("x169: the bipartite probe mines candidates by gram join — no cartesian product, no corpus-side window") {
    val p = plan("x169_cross_probe")
    assert(!p.contains("CartesianProduct"), s"cross join crept in:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
  }

  test("x170: the semantic probe blocks on the cluster equi-join — no cartesian, no window") {
    val p = plan("x170_sem_probe")
    assert(!p.contains("CartesianProduct"), s"cross join crept in:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
  }

  test("x174: every acceptance tier stays blocked — no cartesian anywhere in the fused report") {
    val p = plan("x174_acceptance")
    assert(!p.contains("CartesianProduct"), s"cross join crept in:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
  }

  test("x176: the per-doc gate stays blocked too, and its indexed form reads ONLY index files") {
    import spark.implicits._
    val p = plan("x176_acceptance_gate")
    assert(!p.contains("CartesianProduct"), s"cross join crept in:\n$p")
    // indexed form: in-memory candidates against the persisted battery
    val dir = tempDir("gate_accept_idx").toString
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val (candDocs, refDocs) = graft.operators.Dedup.plantedCrossCorpus(docs)
    val emb = graft.core.Tables.load(spark, sf("sf0.001"), "embeddings")
    val refIds = docs.filter($"source".isin("src0", "src1"))
      .select($"doc_id".as("vec_id"))
    graft.operators.Dedup.saveAcceptanceIndex(refDocs,
      emb.join(refIds, Seq("vec_id"), "left_semi"), s"$dir/idx")
    val cands = candDocs.select($"doc_id", $"lang", $"text")
      .join(emb.select($"vec_id".as("doc_id"), $"embedding"), Seq("doc_id"))
      .as[(Long, String, String, Seq[Float])].collect().toSeq
      .toDF("doc_id", "lang", "text", "embedding")
    val gp = graft.operators.Dedup
      .acceptanceGateIndexed(cands, s"$dir/idx", maxDf = 100)
      .queryExecution.executedPlan
    val roots = scanRoots(gp)
    assert(roots.nonEmpty, s"expected live index scans:\n$gp")
    assert(roots.forall(_.contains(dir)),
      s"non-index file read in the gate: $roots")
  }

  /** LIVE FileScan root paths, structurally (the liveFileScans
    * traversal): descends AQE boundaries and subqueries, stops at a
    * cache hit (the cached build plan is rendered, not live work). */
  private def scanRoots(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    collectFileScans(p).flatMap(_.relation.location.rootPaths.map(_.toString))

  private def collectFileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p match {
      case a: AdaptiveSparkPlanExec => collectFileScans(a.executedPlan)
      case q: QueryStageExec        => collectFileScans(q.plan)
      case _: InMemoryTableScanExec => Nil
      case f: FileSourceScanExec    => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(collectFileScans)
    }
  }

  test("x170/x171: probing a frozen index reads ONLY index files — the reference corpus never rescans") {
    import graft.core.Tables
    import graft.operators.{Dedup, Similarity}
    import spark.implicits._
    // x170: semantic probe over the persisted centroid-partitioned lists
    val semDir = tempDir("gate_sem_idx").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val isRef = $"vec_id" % 2 === 0
    Similarity.saveSemRefIndex(emb.filter(isRef), s"$semDir/idx")
    // candidates as an IN-MEMORY frame: any FileScan in the probe plan
    // can then only be the index (or a leaked reference-corpus read)
    val candVecs = emb.filter(!isRef).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
      .toDF("vec_id", "embedding")
    val semPlan = Similarity.semProbeAgainst(candVecs, s"$semDir/idx")
      .queryExecution.executedPlan
    val semScans = scanRoots(semPlan)
    assert(semScans.nonEmpty, s"expected live index scans:\n$semPlan")
    assert(semScans.forall(_.contains(semDir)),
      s"non-index file read in the probe: $semScans")
    // batch probes STATICALLY prune the cluster-partitioned lists to
    // the candidates' probed clusters: the lists scan must carry a
    // partition filter (a small delivery reads delivery-many
    // partitions, never the whole index)
    val listScans = collectFileScans(semPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/lists/")))
    assert(listScans.nonEmpty, s"no lists scan found:\n$semPlan")
    assert(listScans.forall(_.partitionFilters.nonEmpty),
      s"lists scan is unpruned (no partition filters):\n$semPlan")
    // x171: gram probe over the persisted grams/df/sizes artifact
    val xDir = tempDir("gate_xprobe_idx").toString
    val (cand, ref) = Dedup.plantedCrossCorpus(
      Tables.load(spark, sf("sf0.001"), "documents"))
    Dedup.saveCrossProbeIndex(ref, s"$xDir/idx")
    val candDocs = cand.select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect().toSeq
      .toDF("doc_id", "lang", "text")
    val xPlan = Dedup.crossProbeIndexed(candDocs, s"$xDir/idx", maxDf = 100)
      .queryExecution.executedPlan
    val xScans = scanRoots(xPlan)
    assert(xScans.nonEmpty, s"expected live index scans:\n$xPlan")
    assert(xScans.forall(_.contains(xDir)),
      s"non-index file read in the probe: $xScans")
  }

  test("x168: the scorecard rides the panel's one scan — no second corpus read for source") {
    val p = plan("x168_source_scorecard")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"source must ride the panel scan, not a join back:\n$p")
  }

  test("x158/x162: one Gram scan per query, and nothing stays cached") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // one Gram collect per query: count the SQL executions started from
    // gramOf on this thread (tagged by a job description, so no other
    // query can be counted)
    val tag = s"gram-gate-${java.util.UUID.randomUUID}"
    val gramExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.description == tag && s.details.contains("gramOf") =>
          gramExecs.add(s.executionId)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (name <- Seq("x158_pca_proj", "x162_pca_two")) {
        gramExecs.clear()
        spark.sparkContext.setJobDescription(tag)
        val df = try SparkEntry.queries(name)(spark, sf("sf0.001"))
          finally spark.sparkContext.setJobDescription(null)
        val deadline = System.currentTimeMillis + 10000
        while (gramExecs.isEmpty && System.currentTimeMillis < deadline) Thread.sleep(50)
        Thread.sleep(500) // a second Gram collect would have posted by now
        assert(gramExecs.size == 1,
          s"$name: expected one Gram collect, saw ${gramExecs.size}")
        // the returned plan only projects: the Gram is driver-side data,
        // and the one corpus read left is the projection's own scan
        val e = df.queryExecution.executedPlan
        assert(!e.toString.contains("InMemoryTableScan"), s"$name reads a cache:\n$e")
        assert(liveFileScans(e) == 1, s"$name: the projection rescans the corpus:\n$e")
      }
      // the Gram plan itself is one live corpus scan, not a cache read
      val gram = graft.operators.Similarity.gramFrame(
        graft.core.Tables.load(spark, sf("sf0.001"), "embeddings"))
        .queryExecution.executedPlan
      assert(liveFileScans(gram) == 1 && !gram.toString.contains("InMemoryTableScan"),
        s"the Gram aggregate must scan the corpus once, live:\n$gram")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("x109: BPE pair counting partial-aggregates before the shuffle; top-N never global-sorts") {
    val p = plan("x109_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final:\n$p")
  }

  test("x115: split balance scans documents exactly once (marginals + total are windows over the cell aggregate)") {
    val p = plan("x115_split_balance")
    assert("FileScan".r.findAllIn(p).size == 1, s"corpus rescanned:\n$p")
  }

  test("x119: host reputation joins the host aggregate back as a broadcast — docs never shuffle for it") {
    val p = plan("x119_host_reputation")
    assert(p.contains("BroadcastHashJoin"), s"host table should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the document side must not shuffle:\n$p")
  }

  test("x112/x118: term ranking prunes with WindowGroupLimit / stays on the vocabulary-grain aggregate") {
    val p12 = plan("x112_zipf_slope")
    assert(p12.contains("WindowGroupLimit"),
      s"rank<=K should prune before the full window sort:\n$p12")
    // x118 keeps the whole vocabulary (the cut needs the full running
    // sum), but both windows must share ONE exchange on source
    val p18 = plan("x118_vocab90")
    assert("FileScan".r.findAllIn(p18).size == 1, s"corpus rescanned:\n$p18")
  }

  test("x113/x121: per-source accounting never reads unneeded columns") {
    val p13 = plan("x113_truncation")
    assert(p13.contains("ReadSchema") && !p13.contains("n_chars") && !p13.contains("lang"),
      s"unneeded columns read:\n$p13")
    val p21 = plan("x121_fertility")
    assert(!p21.contains("source") || !p21.contains("doc_id"),
      s"unneeded columns read:\n$p21")
  }
}
