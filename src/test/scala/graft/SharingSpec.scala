package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lifetime rules of shared frames: a frame one plan reads twice is
  * shared within that plan (graft.plans.Shared) and computed once; a
  * frame an operator's own loop reads is persisted and released before
  * the operator returns. Nothing outlives the call or the action, so no
  * query's plan or speed depends on which queries ran before it. */
class SharingSpec extends SparkSpec {

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  /** The checkpoint RDDs the returned frame's plan reads: the only
    * blocks an iterative operator may leave behind (they ARE the
    * result). */
  private def backingRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet

  test("Shared: a frame read three times computes once, and equals the unshared plan") {
    val agg = spark.range(20000).select((col("id") % 100).as("k"), col("id"))
      .groupBy("k").agg(sum("id").as("s"))
    val plain = agg.join(agg.select(col("k"), (col("s") + 1).as("s2")), "k")
      .crossJoin(broadcast(agg.agg(sum("s").as("t"))))
    val shared = graft.plans.Shared(plain, agg)
    assert(shared.collect().map(_.toString).sorted.toSeq ==
      plain.collect().map(_.toString).sorted.toSeq)
    val p = shared.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(p).size >= 2, s"expected the shared exchange reused:\n$p")
    // a frame read once is left inline: no CTE, no extra exchange
    val once = graft.plans.Shared(agg.filter(col("k") > 3), agg)
    assert(once.queryExecution.analyzed.collect {
      case d: org.apache.spark.sql.catalyst.plans.logical.CTERelationDef => d
    }.isEmpty)
  }

  test("connectedComponents, pageRank and bpeMergeTable leave nothing cached or persisted") {
    import graft.operators.{Dedup, Graph, TextAnalysis}
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val nodes = (1L to 12L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L), (7L, 8L), (8L, 6L))
      .toDF("src", "dst")
    val cc = Dedup.connectedComponents(nodes, edges)
    val pr = Graph.pageRank(nodes, edges)
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val bpe = TextAnalysis.bpeMergeTable(docs, 3)
    assert(cacheEmpty, "an operator left a cached frame in the cache manager")
    val added = sc.getPersistentRDDs.keySet -- before
    val allowed = backingRdds(cc) ++ backingRdds(pr) ++ backingRdds(bpe)
    assert(added.subsetOf(allowed),
      s"persisted RDDs left behind: ${(added -- allowed).map(sc.getPersistentRDDs)}")
    // the results still compute after every helper frame was released
    assert(cc.filter(col("id") === 3L).select("label").as[Long].collect().toSeq == Seq(1L))
    assert(pr.count() == 12L)
    assert(bpe.count() == 3L)
    assert(cacheEmpty)
  }

  test("IterUtil.free rejects a handle that is not a checkpoint") {
    val persisted = spark.range(3).toDF("v").persist()
    try {
      intercept[IllegalArgumentException](graft.core.IterUtil.free(persisted))
    } finally persisted.unpersist()
  }

  /** Run `faces` in order through the registered entry points, each
    * with a noop write, asserting after every action that nothing was
    * left cached and that no face's plan reads a cache. */
  private def runUncached(faces: Seq[String]): Unit = {
    for (f <- faces) {
      val df = SparkEntry.queries(f)(spark, sf("sf0.001"))
      df.write.format("noop").mode("overwrite").save()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("InMemoryTableScan"), s"$f read a cached frame:\n$p")
      assert(cacheEmpty, s"$f left a cached frame behind")
    }
  }

  test("x114 after x123: the link graph is computed by each query, never served from a cache") {
    runUncached(Seq("x123_link_degrees", "x114_link_graph"))
  }

  test("the faces_floor faces leave nothing cached, in either order") {
    val floor = Seq("x152_leak_probe", "x107_waterfall", "q05_outer_join",
      "x72_cdc_chunks", "q07_range_join", "x58_winsorize", "x141_epoch_order",
      "x45_embed_neardup", "x121_fertility", "x154_line_rep",
      "x123_link_degrees", "x114_link_graph")
    runUncached(floor)
    runUncached(floor.reverse)
  }

  test("the stream-static gates leave nothing cached once their queries stop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def day(n: Int) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(9000L + n))
    val docs = MemoryStream[(Long, String)]
    docs.addData((1L, "alpha beta gamma delta epsilon zeta"))
    val pts = MemoryStream[(Long, java.sql.Date)]
    pts.addData((1L, day(3)))
    val gates: Seq[(() => DataFrame, String)] = Seq(
      (() => StreamingOps.decontaminateStream(docs.toDF().toDF("doc_id", "text"),
        Seq((7L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")), "update"),
      (() => StreamingOps.oovStream(docs.toDF().toDF("doc_id", "text"),
        Seq("alpha", "beta").toDF("term")), "update"),
      (() => StreamingOps.intervalMatchStream(pts.toDF().toDF("pid", "d"),
        Seq((10L, day(0), day(9))).toDF("id", "d0", "d1"), binDays = 7), "append"))
    for ((gate, mode) <- gates) {
      val q = gate().writeStream.outputMode(mode).format("noop").start()
      try q.processAllAvailable() finally q.stop()
      assert(cacheEmpty, s"a $mode gate left its static side cached")
    }
  }
}
