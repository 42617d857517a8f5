package graft

import org.apache.spark.sql.functions._
import graft.operators.TextSearch

/** Semantic coverage for BM25 retrieval (x23's operator): ranking
  * behavior on planted documents, the top-k contract, and determinism.
  * Cross-engine cell-exactness is the DuckDB oracle's job. */
class TextSearchSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark join hash spark join"),     // both terms, repeatedly
    (2L, "spark join"),                     // both terms, shorter
    (3L, "spark banana banana banana"),     // one term, diluted
    (4L, "banana apple pear"),              // no terms
    (5L, "join join join join join join")   // one term, spammy
  ).toDF("doc_id", "text")

  test("docs matching more query terms outrank partial matches; non-matches absent") {
    val out = TextSearch.bm25TopK(corpus, Seq(1 -> "spark join"), k = 10)
      .orderBy($"rank")
      .select($"doc_id", $"rank").as[(Long, Int)].collect().toSeq
    val ranked = out.map(_._1)
    assert(!ranked.contains(4L), "a doc with no query terms scored")
    // the two-term docs beat every one-term doc
    val pos = ranked.zipWithIndex.toMap
    assert(pos(1L) < pos(3L) && pos(1L) < pos(5L))
    assert(pos(2L) < pos(3L) && pos(2L) < pos(5L))
    assert(out.map(_._2) == (1 to out.size).toSeq, "ranks not contiguous from 1")
  }

  test("length normalization: same tf in a shorter doc scores higher") {
    val d = Seq(
      (1L, "spark alpha beta"),
      (2L, "spark " + Seq.fill(40)("filler").mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextSearch.bm25TopK(d, Seq(1 -> "spark"), k = 2)
      .orderBy($"rank").select($"doc_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L))
  }

  test("top-k bound holds per query; queries score independently") {
    val docs = spark.range(50)
      .select($"id".as("doc_id"),
        concat(lit("common "), when($"id" % 2 === 0, "even").otherwise("odd")).as("text"))
    val out = TextSearch.bm25TopK(docs,
        Seq(1 -> "common", 2 -> "even", 3 -> "absent"), k = 7)
      .groupBy($"query_id").count().as[(Int, Long)].collect().toMap
    assert(out(1) == 7L && out(2) == 7L)
    assert(!out.contains(3), "a query with no corpus hits produced rows")
  }

  test("scores are stable under repartitioning (decimal contribution sum)") {
    val a = TextSearch.bm25TopK(corpus, TextSearch.demoQueries)
      .orderBy($"query_id", $"rank").collect().toSeq
    val b = TextSearch.bm25TopK(corpus.repartition(7), TextSearch.demoQueries)
      .orderBy($"query_id", $"rank").collect().toSeq
    assert(a == b, "BM25 output changed under a different partitioning")
  }

  test("persisted index answers cell-identically to the direct scan and prunes to query buckets") {
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val dir = tempDir("bm25idx").toString
    TextSearch.saveIndex(docs, dir)
    val direct = TextSearch.bm25TopK(docs, TextSearch.demoQueries)
      .orderBy($"query_id", $"rank").collect().toSeq
    val indexed = TextSearch.bm25TopKIndexed(spark, dir, TextSearch.demoQueries)
      .orderBy($"query_id", $"rank").collect().toSeq
    assert(direct == indexed,
      "index path drifted from the scan path (same contribution, same ties expected)")
    // the scale contract: the query reads ONLY the partitions its terms
    // hash into — never the whole postings layout (inputFiles would lie
    // here: it lists the relation BEFORE partition pruning, so assert on
    // the executed scan's numFiles metric instead)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val allBuckets = new java.io.File(
        graft.core.DeltaIndex.current(spark, dir) + "/postings").listFiles()
      .count(_.getName.startsWith("term_bucket="))
    val nTerms = TextSearch.demoQueries
      .flatMap(_._2.split(" ").filter(_.nonEmpty)).distinct.size
    val df = TextSearch.bm25TopKIndexed(spark, dir, TextSearch.demoQueries)
    df.collect()
    // AQE wraps executed subtrees in QueryStageExec leaves that plain
    // collect() does not descend into
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val read = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/postings")))
      .map(_.metrics("numFiles").value).sum
    assert(read > 0 && read <= nTerms && read < allBuckets,
      s"scanned $read postings files; expected <= $nTerms query-term buckets " +
        s"of $allBuckets total")
  }

  test("a save that dies after the postings land leaves the previous index scoring identically") {
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val dir = tempDir("bm25torn").toString + "/idx"
    TextSearch.saveIndex(docs, dir)
    def answer() = TextSearch.bm25TopKIndexed(spark, dir, TextSearch.demoQueries)
      .orderBy($"query_id", $"rank").collect().toSeq
    val before = answer()
    // half the corpus: new postings AND new n_docs/avgdl
    val half = docs.filter($"doc_id" % 2 === 0)
    CrashFs.crashing(spark)((step, p) => step == CrashFs.Create &&
        p.toUri.getPath.startsWith(s"$dir/") && p.toUri.getPath.contains("/stats/") &&
        p.getName.startsWith("part-")) {
      TextSearch.saveIndex(half, dir)
    }
    // the crash landed after the new postings were complete on disk
    val attempts = new java.io.File(dir, "data").listFiles()
    assert(attempts.exists(g => new java.io.File(g, "postings/_SUCCESS").exists() &&
      g.getPath != graft.core.DeltaIndex.current(spark, dir)),
      "the crash fired before the new postings landed")
    assert(answer() == before, "new postings were scored against the old stats")
    // non-vacuous: the completed save does change the answer
    TextSearch.saveIndex(half, dir)
    assert(answer() != before)
  }
}
