package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Multimodal, VectorFunctions}
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Semantic coverage for the ops whose outputs are engine-specific
  * (signature hashes, LSH buckets, heuristic argmax) and therefore
  * rows-only at the driver's oracle gate. */
class ExtrasSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.load(spark, sf("sf0.001"), "documents")

  test("minhash-LSH finds planted near-duplicates") {
    // plant: copy of doc text with one word changed → jaccard ~ high
    val base = docs.limit(20).select($"doc_id", $"text")
    val dups = base.select(($"doc_id" + 100000).as("doc_id"),
      concat($"text", lit(" perturbedtail")).as("text"))
    val corpus = base.unionByName(dups)
    val pairs = Dedup.minhashLshPairs(corpus, jaccardThreshold = 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val expected = base.select($"doc_id").as[Long].collect()
      .map(id => (id, id + 100000)).toSet
    assert(expected.subsetOf(pairs),
      s"missing planted pairs: ${expected -- pairs}")
  }

  test("x87 containment catches a full quote the Jaccard gate misses") {
    // docA's 6 tokens appear verbatim inside docB's 26 — containment
    // C(A→B)=1 but Jaccard = 4/24 ≈ 0.17, far under the 0.5 dedup gate.
    val quote = "alpha bravo charlie delta echo foxtrot"
    val tail = (1 to 20).map(i => s"pad$i").mkString(" ")
    val corpus = Seq(
      (1L, quote),
      (2L, s"$quote $tail"),
      (3L, "unrelated words entirely different content here")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    val contain = Dedup.containmentPairs(corpus)
      .select($"d1", $"d2", $"inter", $"n1", $"n2")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(contain.map(r => (r._1, r._2)).toSet == Set((1L, 2L)),
      s"expected exactly the planted quote pair, got ${contain.toSeq}")
    // the quote's 4 trigrams all intersect; sizes pin the asymmetry
    val (_, _, inter, n1, n2) = contain.head
    assert(inter == 4 && n1 == 4 && n2 == 24, s"got inter=$inter n1=$n1 n2=$n2")
    // and the symmetric Jaccard gate indeed rejects it (4/24 < 0.5)
    val jac = Dedup.verifiedNearDupPairs(corpus)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)),
      "Jaccard gate accepted the quote pair — spec premise broken")
  }

  test("x88 snapshot diff classifies added/removed/changed/unchanged per source") {
    val oldSnap = Seq(
      (1L, "s", "one"), (2L, "s", "two"), (3L, "t", "three"))
      .toDF("doc_id", "source", "text")
    val newSnap = Seq(
      (2L, "s", "two"), (3L, "t", "three prime"), (4L, "s", "four"))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.DocPrep.snapshotDiff(oldSnap, newSnap)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out("s") == ((1L, 1L, 0L, 1L)), s"s: ${out("s")}") // +4, -1, =2
    assert(out("t") == ((0L, 0L, 1L, 0L)), s"t: ${out("t")}") // 3 changed
  }

  test("x89 boilerplate share separates the shared template gram from unique tails") {
    // 30 docs, each "a b c u_i v_i w_i": gram "a b c" has df=30 (common
    // at the 1/20 cut), every other gram df=1 — so each doc's 4
    // positional grams contain exactly 1 boilerplate gram.
    val corpus = (0 until 30)
      .map(i => (i.toLong, s"a b c u$i v$i w$i")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.boilerplateShare(corpus)
      .as[(Long, Long, Long, Option[Double])].collect()
    assert(out.length == 30)
    out.foreach { case (id, nGrams, nBoiler, share) =>
      assert(nGrams == 4 && nBoiler == 1 && share.contains(0.25),
        s"doc $id: n_grams=$nGrams n_boiler=$nBoiler share=$share")
    }
  }

  test("x90 novelty: first doc owns its grams, copies own none, partial overlaps split") {
    val corpus = Seq(
      (0L, "a b c d"),   // grams "a b c","b c d" both first-seen → 1.0
      (1L, "a b c d"),   // exact copy → 0.0
      (2L, "a b c x"),   // "a b c" seen, "b c x" new → 0.5
      (3L, "")           // gram-less → nulls
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.gramNovelty(corpus)
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1)
    assert(out(0) == ((0L, 2L, 2L, Some(1.0))), s"doc0: ${out(0)}")
    assert(out(1) == ((1L, 2L, 0L, Some(0.0))), s"doc1: ${out(1)}")
    assert(out(2) == ((2L, 2L, 1L, Some(0.5))), s"doc2: ${out(2)}")
    assert(out(3) == ((3L, 0L, 0L, None)), s"doc3: ${out(3)}")
  }

  test("x91 novelty-vs-index: hand-computed shares; persisted index round-trips") {
    import graft.operators.TextAnalysis
    val corpus = Seq((0L, "a b c d"), (1L, "c d e f")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b c d"),   // grams "a b c","b c d" both known → 0.0
      (11L, "x y z w"),   // both unseen → 1.0
      (12L, "b c d e"),   // "b c d" known, "c d e" known (doc1) → 0.0
      (13L, "d e f x")    // "d e f" known, "e f x" unseen → 0.5
    ).toDF("doc_id", "text")
    val inlineIdx = corpus
      .select(explode(graft.operators.Dedup.wordShingles($"text", 3)).as("gram"))
      .distinct()
    val out = TextAnalysis.noveltyAgainst(batch, inlineIdx)
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1)
    assert(out(0) == ((10L, 2L, 0L, Some(0.0))), s"${out(0)}")
    assert(out(1) == ((11L, 2L, 2L, Some(1.0))), s"${out(1)}")
    assert(out(2) == ((12L, 2L, 0L, Some(0.0))), s"${out(2)}")
    assert(out(3) == ((13L, 2L, 1L, Some(0.5))), s"${out(3)}")
    // persisted index answers identically to the inline gram set
    val root = tempDir("gram-idx").toString + "/idx"
    TextAnalysis.saveGramIndex(corpus, root)
    val viaIdx = TextAnalysis.noveltyAgainst(batch, TextAnalysis.loadGramIndex(spark, root))
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1)
    assert(viaIdx.toSeq == out.toSeq, "persisted index drifted from inline grams")
  }

  test("x91 streaming novelty gate equals batch replay against the frozen index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = sf("sf0.001")
    val all = Tables.load(spark, dir, "documents")
    val old = all.filter($"doc_id" < TextAnalysis.NoveltySplitId)
    val root = tempDir("gram-idx-s").toString + "/idx"
    TextAnalysis.saveGramIndex(old, root)
    val batchDocs = all.filter($"doc_id" >= TextAnalysis.NoveltySplitId)
      .select($"doc_id", $"text")
    val expected = TextAnalysis
      .noveltyAgainst(batchDocs, TextAnalysis.loadGramIndex(spark, root))
      .as[(Long, Long, Long, Option[Double])].collect().toSet ++
      // a doc with no grams must STILL get its (0, 0, null) verdict from
      // the gate (explode_outer sentinel) — plant one to prove it
      Set((999999L, 0L, 0L, Option.empty[Double]))
    assert(expected.nonEmpty, "vacuous: no batch docs scored")
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.noveltyStream(
        stream.toDF().toDF("doc_id", "text"), root)
      .writeStream.outputMode("append")
      .format("memory").queryName("novelty_out").start()
    try {
      val rows = batchDocs.as[(Long, String)].collect().toSeq :+
        ((999999L, "two words"))
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("novelty_out")
        .as[(Long, Long, Long, Option[Double])].collect().toSet
      assert(streamed == expected,
        s"missing: ${(expected -- streamed).take(3)}; extra: ${(streamed -- expected).take(3)}")
    } finally q.stop()
  }

  test("x92 semdedup: lower id wins inside a cluster, cross-cluster twins both survive") {
    // k=2 init centroids = vectors of ids 0/1. id2 ≈ id0 (same cluster,
    // cos ≈ 0.99995 ≥ 0.9 → dropped); id3 = exact copy of id1 (dropped);
    // id4 lands in cluster 1 but cos(id4, mates) ≈ 0.2/0.58 < 0.9 → kept.
    val vecs = Seq(
      0L -> Array(1f, 0f), 1L -> Array(0f, 1f), 2L -> Array(1f, 0.01f),
      3L -> Array(0f, 1f), 4L -> Array(-1f, 0.2f)
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, k = 2, iters = 1, tau = 0.9)
      .select($"vec_id", $"n_dups", $"keep")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((0L, 0L, 1L), (1L, 0L, 1L), (2L, 1L, 0L),
      (3L, 1L, 0L), (4L, 0L, 1L)), s"got ${out.toSeq}")
  }

  test("x93 k-anonymity: small combos flagged, populous ones pass") {
    val d = Seq(
      (0L, "en", "s", 5L), (1L, "en", "s", 6L), // bucket 3 (bin '101'/'110'), n=2
      (2L, "en", "t", 5L)                       // n=1 → risky at k=2
    ).toDF("doc_id", "lang", "source", "n_chars")
    val out = graft.operators.DocPrep.kAnonymity(d, k = 2L)
      .select($"lang", $"source", $"size_bucket", $"n_docs", $"at_risk")
      .as[(String, String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(("en", "s", 3L, 2L, 0L), ("en", "t", 3L, 1L, 1L)),
      s"got ${out.toSeq}")
  }

  test("x94 margin: isolated match scores high, hub neighborhood scores 1") {
    // query 0 vs {id1 dup, id2 orthogonal}: top-2 sims (1, 0) → margin 2;
    // then vs {two dups}: flat neighborhood → margin exactly 1.
    val isolated = Seq(0L -> Array(1f, 0f), 1L -> Array(1f, 0f),
      2L -> Array(0f, 1f)).toDF("vec_id", "embedding")
    val o1 = Similarity.marginMining(isolated, nQueries = 1, k = 2)
      .as[(Long, Long, Double)].collect()
    assert(o1.toSeq == Seq((0L, 1L, 2.0)), s"got ${o1.toSeq}")
    val hub = Seq(0L -> Array(1f, 0f), 1L -> Array(1f, 0f),
      2L -> Array(1f, 0f)).toDF("vec_id", "embedding")
    val o2 = Similarity.marginMining(hub, nQueries = 1, k = 2)
      .as[(Long, Long, Double)].collect()
    assert(o2.toSeq == Seq((0L, 1L, 1.0)), s"got ${o2.toSeq}")
  }

  test("x95 source overlap: shared gram counted once, disjoint pair reads zero") {
    val d = Seq(
      (0L, "A", "a b c d"),  // grams: "a b c", "b c d"
      (1L, "B", "a b c x"),  // grams: "a b c", "b c x"
      (2L, "C", "p q r s")   // grams: "p q r", "q r s"
    ).toDF("doc_id", "source", "text")
    val out = graft.operators.TextAnalysis.sourceOverlap(d)
      .select($"source_a", $"source_b", $"n_inter", $"n_union", $"jaccard")
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out(("A", "B")) == ((1L, 3L, 1.0 / 3)), s"AB: ${out(("A", "B"))}")
    assert(out(("A", "C")) == ((0L, 4L, 0.0)), s"AC: ${out(("A", "C"))}")
    assert(out(("B", "C")) == ((0L, 4L, 0.0)), s"BC: ${out(("B", "C"))}")
  }

  test("x96 growth curve: first-seen grams land in their bucket, total runs") {
    // ids 0,1 → bucket 0 (copy adds no gram); id 50 → bucket 1
    val d = Seq((0L, "a b c"), (1L, "a b c"), (50L, "a b x"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.growthCurve(d)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((0L, 2L, 6L, 1L, 1L), (1L, 1L, 3L, 1L, 2L)),
      s"got ${out.toSeq}")
  }

  test("x97 pii audit: planted classes counted, clean doc untouched") {
    val d = Seq(
      (1L, "plain words only"),
      (2L, "mail bob@x.io and sue.k+1@my-site.org then call 555-123-4567 from 10.0.0.1 done"))
      .toDF("doc_id", "text")
    val out = graft.operators.DocPrep.piiAudit(d)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val clean = out(0)
    assert((clean._2, clean._3, clean._4, clean._5) == ((0L, 0L, 0L, 0L)) &&
      clean._6 == clean._7, s"clean doc mutated: $clean")
    val hit = out(1)
    val expectRedacted =
      "mail [EMAIL] and [EMAIL] then call [PHONE] from [IP] done".length.toLong
    assert(hit == ((2L, 2L, 1L, 1L, 4L, 79L, expectRedacted)), s"got $hit")
  }

  test("x98 source cap: ranks are a per-source permutation, cap kept") {
    val d = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"),
      (6L, "c")).toDF("doc_id", "source")
    val out = graft.operators.Sampling.sourceCap(d, cap = 2L)
      .as[(Long, String, Long, Long)].collect()
    val bySrc = out.groupBy(_._2)
    assert(bySrc("a").map(_._3).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(bySrc("b").map(_._3).sorted.toSeq == Seq(1L, 2L))
    out.foreach { r =>
      assert(r._4 == (if (r._3 <= 2L) 1L else 0L), s"verdict wrong: $r") }
    assert(out.count(_._4 == 1L) == 5, s"kept != 5: ${out.toSeq}")
  }

  test("x99 annotator agreement: first vote wins, majority tie to lex-min") {
    // item 1: a,a,b(first of re-voter) -> majority a; item 2: a/b tie -> a
    val votes = Seq(
      (1L, 1L, "a", 1L), (1L, 2L, "a", 2L), (1L, 3L, "b", 3L),
      (1L, 3L, "a", 4L), // re-vote on item 1 by annotator 3 — ignored
      (2L, 1L, "b", 5L), (2L, 2L, "a", 6L))
      .toDF("item", "annotator", "label", "vote_id")
    val out = graft.operators.Analytics.annotatorAgreement(votes)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L, 1L, 0.5), (2L, 2L, 2L, 1.0),
      (3L, 1L, 0L, 0.0)), s"got ${out.toSeq}")
  }

  test("x101 dawid-skene: reliable minority flips the unweighted majority") {
    // items 10-12: ann3 votes "a" and wins each three-way tie (lex min),
    // so ann3 scores 3/4 = iw 750000 and ann1/ann2 score 1/4 = 250000.
    // item 1: ann1+ann2 vote "b" (majority), ann3 votes "a" — weighted
    // revote 750000 vs 500000 flips it to "a".
    val votes = Seq(
      (1L, 1L, "b", 1L), (1L, 2L, "b", 2L), (1L, 3L, "a", 3L),
      (10L, 1L, "y", 4L), (10L, 2L, "z", 5L), (10L, 3L, "a", 6L),
      (11L, 1L, "y", 7L), (11L, 2L, "z", 8L), (11L, 3L, "a", 9L),
      (12L, 1L, "y", 10L), (12L, 2L, "z", 11L), (12L, 3L, "a", 12L))
      .toDF("item", "annotator", "label", "vote_id")
    val out = graft.operators.Analytics.dawidSkeneStep(votes)
      .as[(Long, Long, String, String, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 3L, "b", "a", 1L), (10L, 3L, "a", "a", 0L),
      (11L, 3L, "a", "a", 0L), (12L, 3L, "a", "a", 0L)),
      s"got ${out.toSeq}")
  }

  test("x101 fixed point: one iter is the single step; the EM alternation reaches a stable consensus") {
    import graft.operators.Analytics
    val votes = Seq(
      (1L, 1L, "b", 1L), (1L, 2L, "b", 2L), (1L, 3L, "a", 3L),
      (10L, 1L, "y", 4L), (10L, 2L, "z", 5L), (10L, 3L, "a", 6L),
      (11L, 1L, "y", 7L), (11L, 2L, "z", 8L), (11L, 3L, "a", 9L),
      (12L, 1L, "y", 10L), (12L, 2L, "z", 11L), (12L, 3L, "a", 12L))
      .toDF("item", "annotator", "label", "vote_id")
    // maxIters = 1 IS dawidSkeneStep, row-for-row (the identity contract)
    val one = Analytics.dawidSkeneConverged(votes, maxIters = 1)
      .as[(Long, Long, String, String, Long)].collect().toSet
    val step = Analytics.dawidSkeneStep(votes)
      .as[(Long, Long, String, String, Long)].collect().toSet
    assert(one == step, s"step-1 drifted: $one vs $step")
    // the fixed point is STABLE: a larger iteration budget lands on the
    // same consensus (the converged-or-max contract — here convergence
    // fires well under both budgets)
    val fixA = Analytics.dawidSkeneConverged(votes, maxIters = 10)
      .as[(Long, Long, String, String, Long)].collect().toSet
    val fixB = Analytics.dawidSkeneConverged(votes, maxIters = 15)
      .as[(Long, Long, String, String, Long)].collect().toSet
    assert(fixA == fixB, s"not a fixed point: $fixA vs $fixB")
    // ds_label carries the FINAL consensus, maj_label stays round-0:
    // item 1 keeps its round-1 flip at the fixed point (ann3's weight
    // only grows once its 'a' verdicts become consensus)
    val byItem = fixA.map(r => r._1 -> r).toMap
    assert(byItem(1L)._4 == "a" && byItem(1L)._3 == "b" && byItem(1L)._5 == 1L,
      s"item 1 at the fixed point: ${byItem(1L)}")
  }

  test("x102 url canon: every ladder rule fires; already-canonical passes through") {
    val d = Seq(
      (1L, "HTTPS://WWW.News.Example.com/A/B?utm_source=x&id=2&fbclid=z#top"),
      (2L, "https://example.com:8080/p/"),
      (3L, "example.com/plain"),
      (4L, "https://b.com/p?id=1&myutm_x=2"),
      (5L, "https://c.com/p?utm_a=1&utm_b=2"),
      (6L, "https://d.com?x=1"),
      (7L, "https://e.com:8080?x=1"))
      .toDF("doc_id", "url")
    val out = graft.operators.WebPrep.urlCanonicalize(d)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      // scheme+www stripped, host lowercased (path case kept), utm and
      // fbclid dropped with separators swept, fragment dropped
      (1L, "news.example.com/A/B?id=2", "news.example.com", 1L),
      // trailing slash dropped; host (for the quota key) drops the port
      (2L, "example.com:8080/p", "example.com", 1L),
      // scheme-less input survives untouched
      (3L, "example.com/plain", "example.com", 0L),
      // a param whose name merely CONTAINS utm_ is not tracking — the
      // separator anchor protects it
      (4L, "b.com/p?id=1&myutm_x=2", "b.com", 1L),
      // consecutive tracking params both stripped, query gone entirely
      (5L, "c.com/p", "c.com", 1L),
      // query with NO path: the host cut must fire at '?', not only '/'
      (6L, "d.com?x=1", "d.com", 1L),
      // ...and the port strip still lands once the query is cut away
      (7L, "e.com:8080?x=1", "e.com", 1L)), s"got ${out.toSeq}")
  }

  test("x103 markup strip: title extracted, links counted, tags gone") {
    val d = Seq(
      (1L, "<html><head><title>Hi there</title></head><body><p>a  b</p>" +
        "<a href=\"/x\">x</a><a href=\"/y\">y</a></body></html>"))
      .toDF("doc_id", "html")
    val out = graft.operators.WebPrep.stripMarkup(d)
      .as[(Long, String, Long, String, Long)].collect()
    assert(out.toSeq == Seq((1L, "Hi there", 2L, "Hi there a b x y", 16L)),
      s"got ${out.toSeq}")
  }

  test("x104 url dedup: noise variants collapse to one fetch, min keeper wins") {
    val d = Seq(
      (1L, "https://a.com/x"),
      (2L, "HTTPS://WWW.A.com/x#f"), // same fetch, canonicalizer's doing
      (3L, "https://a.com/y"))
      .toDF("doc_id", "url")
    val out = graft.operators.WebPrep.urlDedup(d)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "a.com/x", 1L, 0L), (2L, "a.com/x", 1L, 1L),
      (3L, "a.com/y", 3L, 0L)), s"got ${out.toSeq}")
  }

  test("x105 krippendorff alpha: hand-computed nominal case, singletons excluded") {
    // i1: a,a; i2: b,b; i3: a,b; i4: single vote (not pairable).
    // Do = 2/6, De = 18/30 -> alpha = 1 - (1/3)/(3/5) = 4/9.
    val votes = Seq(
      (1L, 1L, "a", 1L), (1L, 2L, "a", 2L),
      (2L, 1L, "b", 3L), (2L, 2L, "b", 4L),
      (3L, 1L, "a", 5L), (3L, 2L, "b", 6L),
      (4L, 1L, "a", 7L))
      .toDF("item", "annotator", "label", "vote_id")
    val out = graft.operators.Analytics.krippendorffAlpha(votes)
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((6L, 3L, 0.444444)), s"got ${out.toSeq}")
  }

  test("x108 script mix: per-script counts and fixed-order dominance") {
    val d = Seq(
      (1L, "hello мир"),          // 5 latin vs 3 cyrillic -> latin
      (2L, "ok привет мир"),      // 2 latin vs 9 cyrillic -> cyrillic
      (3L, "αβγδ 你好三字 x9"),    // greek 4, cjk 4 -> tie, greek (order)
      (4L, "你好世界12345"))       // cjk 4 dominates, digits counted
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.scriptMix(d)
      .as[(Long, Long, Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 5L, 3L, 0L, 0L, 0L, "latin"),
      (2L, 2L, 9L, 0L, 0L, 0L, "cyrillic"),
      (3L, 1L, 0L, 4L, 4L, 1L, "greek"),
      (4L, 0L, 0L, 0L, 4L, 5L, "cjk")), s"got ${out.toSeq}")
  }

  test("x107 waterfall: every doc lands in exactly one stage, tokens conserved") {
    val d = Tables.load(spark, sf("sf0.001"), "documents")
    val out = graft.operators.DocPrep.waterfall(d)
      .as[(String, String, Long, Long)].collect()
    // partition property: stage counts sum to the corpus size
    assert(out.map(_._3).sum == d.count(), s"doc counts not a partition")
    // token conservation: stage token sums equal the corpus token total
    val totalTokens = d.select(
        sum(size(graft.operators.TextAnalysis.wsTokens($"text")).cast("long")))
      .as[Long].head()
    assert(out.map(_._4).sum == totalTokens, "token sums drifted")
    // the reference gate owns ALL of src0/src1
    out.filter(r => Set("src0", "src1")(r._1))
      .foreach(r => assert(r._2 == "reference", s"ref leak: $r"))
  }

  test("x106 dedup-incr: corpus keeper wins, batch min next, novel flagged once") {
    val index = Seq(("old text", 3L)).toDF("text", "keep_id")
    val batch = Seq(
      (10L, "old text"),            // corpus hit -> keeper 3
      (11L, "fresh"),               // first sighting -> novel keeper
      (12L, "fresh"),               // within-batch dup of 11
      (13L, "alone"),               // novel singleton
      (14L, null: String),          // null content: own dup family,
      (15L, null: String))          //   min id keeps — never dropped
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.dedupAgainst(batch, index)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (10L, 3L, 1L, 0L), (11L, 11L, 0L, 1L),
      (12L, 11L, 1L, 0L), (13L, 13L, 0L, 1L),
      (14L, 14L, 0L, 1L), (15L, 14L, 1L, 0L)), s"got ${out.toSeq}")
  }

  test("x106 persisted dedup index round-trips and matches the inline frame") {
    val dir = tempDir("dedupidx").toString
    val corpus = docs.limit(30).select($"doc_id", $"text")
    graft.operators.Dedup.saveDedupIndex(corpus, s"$dir/idx")
    val loaded = graft.operators.Dedup.loadDedupIndex(spark, s"$dir/idx")
    val inline = corpus.groupBy($"text").agg(min($"doc_id").as("keep_id"))
    assert(loaded.as[(String, Long)].collect().toSet ==
      inline.as[(String, Long)].collect().toSet)
    // dedup a shifted copy of the corpus against it: every row is a dup
    // of its original keeper
    val batch = corpus.select(($"doc_id" + 1000L).as("doc_id"), $"text")
    val out = graft.operators.Dedup.dedupAgainst(batch, loaded)
    assert(out.filter($"dup" === 0L || $"novel" === 1L).count() == 0)
    val keepers = inline.as[(String, Long)].collect().toMap
    val byDoc = batch.as[(Long, String)].collect().toMap
    graft.operators.Dedup.dedupAgainst(batch, loaded)
      .as[(Long, Long, Long, Long)].collect()
      .foreach { r => assert(r._2 == keepers(byDoc(r._1)), s"keeper wrong: $r") }
  }

  test("x100 edit pairs: one-char typo accepted, disjoint neighbor not") {
    val d = Seq((1L, "aaaa bbbb cccc"), (2L, "aaaa bbbb cccx"),
      (3L, "qqqq wwww eeee")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.editDistancePairs(d, w = 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // sort order: doc1, doc2 (shared prefix), doc3; adjacent pairs only.
    // dist(1,2)=1 sub -> near (10*1 <= 14); dist(2,3)=12 subs (no shared
    // non-space chars, equal length -> pure substitution) -> far.
    assert(out.toSeq == Seq((1L, 2L, 1L, 1L), (2L, 3L, 12L, 0L)),
      s"got ${out.toSeq}")
  }

  test("minhash-LSH pairs are verified by exact jaccard >= threshold") {
    val pairs = Dedup.minhashLshPairs(docs).collect()
    pairs.foreach { r =>
      val inter = r.getAs[Int]("inter").toDouble
      val uni = r.getAs[Int]("uni").toDouble
      assert(inter / uni >= 0.5)
    }
  }

  test("canonical-per-cluster keeps the best-scoring member, ties to lowest id") {
    val clusters = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 40L), (5L, 50L))
      .toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 5), (2L, 9), (3L, 9), (4L, 1), (5L, 7))
      .toDF("doc_id", "quality")
    val out = Dedup.canonicalPerCluster(clusters, scores, "quality")
      .orderBy($"cluster_id")
      .as[(Long, Long, Long)].collect().toSeq
    // cluster 10: docs 2 and 3 tie at 9 → keep 2; singletons keep themselves
    assert(out == Seq((10L, 2L, 3L), (40L, 4L, 1L), (50L, 5L, 1L)))
  }

  test("canonical-per-cluster: unscored members still count and never beat scored ones") {
    val clusters = Seq((1L, 10L), (2L, 10L), (3L, 30L)).toDF("doc_id", "cluster_id")
    val scores = Seq((2L, 1)).toDF("doc_id", "quality") // 1 and 3 unscored
    val out = Dedup.canonicalPerCluster(clusters, scores, "quality")
      .orderBy($"cluster_id").as[(Long, Long, Long)].collect().toSeq
    // cluster 10: scored doc 2 wins over unscored doc 1, n_members = 2;
    // cluster 30: all-unscored cluster survives, lowest id wins
    assert(out == Seq((10L, 2L, 2L), (30L, 3L, 1L)))
  }

  test("incremental minhash: batch-vs-index equals the full-corpus run") {
    // split the corpus into an "already indexed" half and a "new batch";
    // dedup'ing the batch against the persisted bucket index (plus
    // within itself) must yield exactly the full run's pairs that touch
    // the batch — the invariant that makes index-once/append-forever
    // equivalent to recomputing from scratch
    val all = docs.select($"doc_id", $"text")
    val corpus = all.filter($"doc_id" < 250)
    val batch = all.filter($"doc_id" >= 250)
    // round-trip the index through parquet: the persistence contract
    val idxPath = tempDir("mh_idx").toString
    Dedup.minhashBuckets(corpus).write.mode("overwrite").parquet(idxPath)
    val index = spark.read.parquet(idxPath)
    val incremental = Dedup.minhashIncrementalPairs(batch, index, corpus)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashLshPairs(all)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val expected = full.filter { case (a, b) => a >= 250 || b >= 250 }
    assert(incremental == expected,
      s"extra=${incremental -- expected} missing=${expected -- incremental}")
    // the equality must have exercised BOTH pair kinds: cross (corpus x
    // batch) and batch-internal — otherwise a regression in one path
    // could hide behind an empty set
    assert(expected.exists { case (a, b) => a < 250 && b >= 250 }, "no cross pairs exercised")
    assert(expected.exists { case (a, b) => a >= 250 && b >= 250 }, "no batch-internal pairs exercised")
  }

  test("simhash: hamming distance separates near-dups from random pairs") {
    // near-dup = one appended token out of ~90 → few flipped bits;
    // unrelated docs → ~32 flipped bits. Compare distributions directly.
    val base = docs.limit(10).select($"doc_id", $"text")
    def hamming(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val chunks = base
      .select($"doc_id", Dedup.simhashChunks($"text").as("ch"),
        Dedup.simhashChunks(concat($"text", lit(" perturbed"))).as("chp"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    val nearDists = chunks.map { case (_, a, b) => hamming(a, b) }
    val farDists = for (i <- chunks.indices; j <- chunks.indices if i < j)
      yield hamming(chunks(i)._2, chunks(j)._2)
    info(s"near-dup hamming: ${nearDists.toSeq}, random mean: ${farDists.sum / farDists.size}")
    assert(nearDists.forall(_ <= 12), s"near-dup drifted too far: ${nearDists.toSeq}")
    assert(farDists.sum.toDouble / farDists.size >= 16, "random pairs unexpectedly close")
  }

  test("simhash banding finds exact and near-exact duplicates") {
    val base = docs.limit(10).select($"doc_id", $"text")
    val dups = base.select(($"doc_id" + 100000).as("doc_id"), $"text") // exact dups
    val pairs = Dedup.simhashPairs(base.unionByName(dups), maxHamming = 3)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val expected = base.select($"doc_id").as[Long].collect()
      .map(id => (id, id + 100000)).toSet
    assert(expected.subsetOf(pairs), s"missing: ${expected -- pairs}")
  }

  test("simhash pairs exclude zero-token documents (no degenerate bucket)") {
    // every empty/whitespace doc hashes to identical all-zero chunks;
    // without the guard they all pair with each other (quadratic on that
    // one bucket at corpus scale) — they must not appear at all.
    val base = docs.limit(5).select($"doc_id", $"text")
    val empties = Seq((900001L, ""), (900002L, "   "), (900003L, " "))
      .toDF("doc_id", "text")
    val ids = Dedup.simhashPairs(base.unionByName(empties))
      .select($"d1", $"d2").as[(Long, Long)].collect()
    assert(ids.forall { case (a, b) => a < 900000L && b < 900000L },
      s"zero-token docs paired: ${ids.filter(p => p._1 >= 900000L || p._2 >= 900000L).toSeq}")
  }

  test("ANN recall@5 vs brute force meets tuned target") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.lshTopK(emb, queries, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ann).size.toDouble / brute.size
    info(f"ANN recall@5 = $recall%.2f (${ann.size} returned)")
    // random-vector corpus (nearest cos ~0.4) is LSH's worst case; the
    // tuned default targets ~0.5 expected recall there — accept 0.4.
    assert(recall >= 0.4, f"recall $recall%.2f too low")
  }

  test("scale-aware ANN defaults: law anchors and monotonicity") {
    // LSH tables: a floor of 20 (small corpora have the LOWER top-5
    // cosine bar, so they need the extra tables most), growing ~4 tables
    // per corpus doubling past n=2000 (tuned grid: n=500 T=20 -> 0.62,
    // n=2000 T=20 -> 0.72 vs the old default T=12's 0.46/0.53).
    assert(Similarity.lshTablesFor(500L) == 20)
    assert(Similarity.lshTablesFor(2000L) == 20)
    assert(Similarity.lshTablesFor(1L) == 20)
    assert(Similarity.lshTablesFor(1000000L) == 56)
    // JL candidates: the candidate FRACTION is the invariant (n/5),
    // floored at the fixture default 100.
    assert(Similarity.jlCandidatesFor(500L) == 100)
    assert(Similarity.jlCandidatesFor(2000L) == 400)
    assert(Similarity.jlCandidatesFor(1L) == 100)
    // both laws are monotone in n (a bigger corpus never gets a weaker
    // search), and never go below the fixture-tuned floors
    val ns = Seq(1L, 100L, 500L, 2000L, 10000L, 1000000L)
    val lsh = ns.map(Similarity.lshTablesFor)
    val jl = ns.map(Similarity.jlCandidatesFor)
    assert(lsh == lsh.sorted && jl == jl.sorted, s"non-monotone: $lsh / $jl")
    assert(lsh.forall(_ >= 12) && jl.forall(_ >= 100))
  }

  test("lshTopK candidate dedup shuffles ids only, vectors re-join after") {
    // the (query_id, neighbor_id) dedup exchange must carry two longs per
    // row, not the embedding payloads (~16x wider at dim=64) — the
    // nearDupPairs discipline
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val plan = Similarity.lshTopK(emb, queries, 5)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val dedupExchanges = plan.collect { case s: ShuffleExchangeExec => s }
      .filter { s =>
        val part = s.outputPartitioning.toString
        part.contains("query_id") && part.contains("neighbor_id")
      }
    assert(dedupExchanges.nonEmpty,
      "expected a dedup exchange keyed on (query_id, neighbor_id)")
    dedupExchanges.foreach { s =>
      val names = s.output.map(_.name)
      assert(!names.exists(n => n.contains("qvec") || n.contains("embedding")),
        s"dedup exchange still carries vector payloads: $names")
    }
  }

  test("IVF ANN recall@5 vs brute force meets probe-fraction target") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val index = Similarity.ivfIndex(emb, nCentroids = 16)
    // every vector lands in exactly one list
    assert(index.assigned.count() == emb.count())
    val ivf = Similarity.ivfTopK(index, queries, k = 5, nProbe = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    info(f"IVF recall@5 = $recall%.2f")
    // random-vector corpus: probing 4/16 lists ~ 25% of the corpus; near
    // neighbors of random data are barely closer to their centroid than
    // anything else, so expected recall ~ probe fraction. Real clustered
    // corpora do far better; this asserts the mechanism, not magic.
    assert(recall >= 0.2, f"recall $recall%.2f below probe fraction")
  }

  test("x83 oracle-checked ANN: valid probe semantics and recall above probe fraction") {
    val dir = sf("sf0.001")
    val emb = Tables.load(spark, dir, "embeddings")
    val out = Similarity.annExactQuery(spark, dir)
      .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)]
      .collect()
    // shape: every query returns exactly k dense ranks, never itself
    val byQuery = out.groupBy(_._1)
    assert(byQuery.size == Similarity.AnnExactQueryIds)
    byQuery.foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to Similarity.AnnExactK),
        s"query $q ranks not dense: ${rows.map(_._3).sorted.toSeq}")
      assert(!rows.exists(_._2 == q), s"query $q returned itself")
    }
    // semantics: recall vs brute force at the probe fraction (2/8
    // clusters on random-ish vectors ~ 25% expected; assert mechanism)
    val queries = emb.filter($"vec_id" < Similarity.AnnExactQueryIds)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val brute = Similarity.bruteForceTopK(emb, queries, Similarity.AnnExactK)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ann = out.map(r => (r._1, r._2)).toSet
    val recall = (brute intersect ann).size.toDouble / brute.size
    info(f"x83 recall@5 = $recall%.2f")
    assert(recall >= 0.15, f"recall $recall%.2f below probe fraction")
  }

  test("IVF codebook round-trips through parquet; frozen assignment composes over batches") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val index = Similarity.ivfIndex(emb, nCentroids = 8)
    val path = tempDir("ivf-cb").toString + "/codebook"
    Similarity.saveCodebook(index.centroids, path, spark)
    val loaded = Similarity.loadCodebook(spark, path)
    assert(loaded.map(_._1).toSeq == index.centroids.map(_._1).toSeq)
    assert(loaded.zip(index.centroids).forall { case ((_, a), (_, b)) => a.toSeq == b.toSeq },
      "centroid vectors corrupted by the parquet round trip")
    // reloaded codebook serves queries identically to the live index
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    def run(ix: Similarity.IvfIndex): Seq[String] =
      Similarity.ivfTopK(ix, queries, k = 5, nProbe = 2)
        .collect().map(_.toString).sorted.toSeq
    assert(run(Similarity.assignWithCodebook(emb, loaded)) == run(index))
    // incremental contract: assigning two batches under the frozen
    // codebook and unioning equals assigning the union — new data joins
    // the index without touching old assignments
    def cells(df: org.apache.spark.sql.DataFrame): Set[(Long, Int)] =
      df.select($"vec_id", $"centroid_id").as[(Long, Int)].collect().toSet
    val parts = cells(Similarity.assignWithCodebook(emb.filter($"vec_id" % 2 === 0), loaded).assigned) ++
      cells(Similarity.assignWithCodebook(emb.filter($"vec_id" % 2 === 1), loaded).assigned)
    assert(parts == cells(Similarity.assignWithCodebook(emb, loaded).assigned))
  }

  test("persisted IVF index: round-trips, prunes the probe to probed lists, heals the crash window") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val root = tempDir("ivf-idx").toString + "/ivf"
    Similarity.saveIvfIndex(emb, root, nCentroids = 16)
    val loaded = Similarity.loadIvfIndex(spark, root)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // the loaded index answers identically to an inline index under the
    // SAME frozen codebook (assignment is a pure per-row function)
    val viaLoaded = rows(Similarity.ivfTopK(loaded, queries, k = 5, nProbe = 1))
    val viaInline = rows(Similarity.ivfTopK(
      Similarity.assignWithCodebook(emb, loaded.centroids), queries, k = 5, nProbe = 1))
    assert(viaLoaded == viaInline, "persisted lists drifted from inline assignment")
    // the pruned probe path is result-identical...
    val indexed = Similarity.ivfTopKIndexed(spark, root, queries, k = 5, nProbe = 1)
    assert(rows(indexed) == viaLoaded, "pruned probe drifted from the full-list probe")
    // ...and actually prunes: the executed lists scan reads at most the
    // probed centroids' partitions, never the whole layout (numFiles
    // metric — inputFiles lists the relation BEFORE pruning)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val allLists = new java.io.File(
        graft.core.DeltaIndex.current(spark, root) + "/lists").listFiles()
      .count(_.getName.startsWith("centroid_id="))
    val df = Similarity.ivfTopKIndexed(spark, root, queries, k = 5, nProbe = 1)
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val read = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/lists")))
      .map(_.metrics("numFiles").value).sum
    assert(read > 0 && read <= 5 && read < allLists,
      s"scanned $read list files; expected <= 5 probed centroids of $allLists total")
    // crash window: a republish that dies between the codebook and the
    // lists write leaves the previous generation current — readers keep
    // answering from it, and nothing lands beside the root
    val before = graft.core.DeltaIndex.current(spark, root)
    intercept[IllegalStateException] {
      graft.core.DeltaIndex.publish(spark, root) { dir =>
        Similarity.saveCodebook(loaded.centroids, s"$dir/codebook", spark)
        throw new IllegalStateException("crash between codebook and lists")
      }
    }
    assert(graft.core.DeltaIndex.current(spark, root) == before)
    val bridged = Similarity.loadIvfIndex(spark, root)
    assert(rows(Similarity.ivfTopK(bridged, queries, k = 5, nProbe = 1)) == viaLoaded,
      "read through the crash window drifted")
    val parent = new java.io.File(root).getParentFile
    assert(parent.list().toSeq == Seq("ivf"), parent.list().toSeq)
    // the next publish heals: it lands as the new generation, and its
    // vacuum reaps the crashed attempt's dir with the superseded one
    Similarity.saveIvfIndex(emb, root, nCentroids = 16)
    val healedDir = graft.core.DeltaIndex.current(spark, root)
    assert(healedDir != before)
    assert(new java.io.File(root, "data").list().toSeq ==
      Seq(new java.io.File(healedDir).getName))
    val healed = Similarity.loadIvfIndex(spark, root)
    assert(rows(Similarity.ivfTopK(healed, queries, k = 5, nProbe = 1)) ==
      rows(Similarity.ivfTopK(Similarity.assignWithCodebook(emb, healed.centroids),
        queries, k = 5, nProbe = 1)), "republished index drifted")
    assert(parent.list().toSeq == Seq("ivf"), parent.list().toSeq)
  }

  test("Lloyd-trained IVF codebook bounds list imbalance on a skew-clustered corpus") {
    // the round-4 caveat: strided-id init mirrors data density only when
    // ids are uniform over space; on a skew-clustered corpus it drops
    // every centroid into the dominant cluster and the minority clusters
    // pile onto one hot list. A few Lloyd iterations must spread the
    // codebook and bound max-list/mean-list.
    val rnd = new scala.util.Random(7)
    val dim = 8
    val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian() * 5.0))
    val sizes = Seq(440, 25, 20, 15) // ids cluster-major: init sees only cluster 0
    val rows = sizes.zipWithIndex.flatMap { case (sz, c) =>
      Seq.fill(sz)(Array.tabulate(dim)(i => (centers(c)(i) + rnd.nextGaussian() * 0.5).toFloat))
    }.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = rows.toDF("vec_id", "embedding")
    def listSizes(ix: Similarity.IvfIndex): Seq[Long] =
      ix.assigned.groupBy($"centroid_id").count().as[(Int, Long)].collect().map(_._2).toSeq
    val untrained = listSizes(Similarity.ivfIndex(df, nCentroids = 8, lloydIters = 0))
    val trained = listSizes(Similarity.ivfIndex(df, nCentroids = 8))
    val mean = rows.size.toDouble / 8
    info(s"untrained lists: ${untrained.sorted.reverse}; trained: ${trained.sorted.reverse}")
    assert(trained.max <= untrained.max,
      s"training worsened the hottest list: ${trained.max} > ${untrained.max}")
    assert(trained.max / mean <= 2.0,
      s"trained max list ${trained.max} exceeds 2x mean $mean (lists: $trained)")
    // training never loses vectors and keeps stable centroid ids
    assert(trained.sum == rows.size)
  }

  test("native word_shingles equals the HOF reference implementation") {
    val both = docs.select(
      Dedup.wordShingles($"text", 3).as("nat"),
      Dedup.wordShinglesHof($"text", 3).as("hof"))
      .as[(Seq[String], Seq[String])].collect()
    both.foreach { case (n, h) => assert(n == h) }
    // sub-n-token edge cases
    val edge = Seq("", "a", "a b", "a b c", "a  b   c d")
      .toDF("text")
      .select(Dedup.wordShingles($"text", 3).as("nat"),
        Dedup.wordShinglesHof($"text", 3).as("hof"))
      .as[(Seq[String], Seq[String])].collect()
    edge.foreach { case (n, h) => assert(n == h) }
    assert(edge(3)._1 == Seq("a b c"))
    assert(edge(4)._1 == Seq("a b c", "b c d"))
  }

  test("LSH blocking fails loudly on corpus/config dimension mismatch") {
    // a mismatched dim would zero every bucket -> quadratic bucket-0
    // self-join; the kernel must refuse, not silently degenerate. The
    // guard lives in the LshBuckets expression, so it covers the Scala
    // operators, SQL lsh_buckets callers, and streaming plans alike.
    def rootMessage(t: Throwable): String = {
      var cur = t
      while (cur.getCause != null) cur = cur.getCause
      cur.getMessage
    }
    val tiny = Seq((1L, Array(1f, 2f)), (2L, Array(3f, 4f))).toDF("vec_id", "embedding")
    val e = intercept[Exception](Similarity.nearDupPairs(tiny, 0.9).collect())
    assert(rootMessage(e).contains("dim"), rootMessage(e))
    val q = tiny.select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val e2 = intercept[Exception](Similarity.lshTopK(tiny, q, 1).collect())
    assert(rootMessage(e2).contains("dim"), rootMessage(e2))
    // SQL surface gets the same guard for free
    tiny.createOrReplaceTempView("tiny_vecs")
    val e3 = intercept[Exception](spark.sql(
      "SELECT lsh_buckets(embedding, 4, 4, 64, 42) FROM tiny_vecs").collect())
    assert(rootMessage(e3).contains("dim"), rootMessage(e3))
  }

  test("fused lsh_buckets equals the composed per-plane form bit-exactly") {
    import graft.functions.expressions.NativeExpressions
    val (nTables, bits, dim, seed) = (6, 5, 64, 42L)
    val ps = Similarity.planes(nTables, bits, dim, seed)
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val both = emb.select(
      NativeExpressions.lshBuckets($"embedding", nTables, bits, dim, seed).as("nat"),
      array(ps.map(tp => Similarity.bucketExprHof($"embedding", tp)): _*).as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) => assert(n == h) }
    // degenerate vectors (wrong length / null element) fail loudly in the
    // fused kernel — the composed form's silent all-zero buckets are the
    // quadratic bucket-0 collapse; asserted in the dimension-guard test
  }

  test("fused top_centroids equals the composed struct-ranking form bit-exactly") {
    import graft.functions.expressions.NativeExpressions
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cid"), $"embedding")
      .collect()
      .map(row => row.getInt(0) -> row.getSeq[Float](1).toArray)
      .sortBy(_._1)
    // assignment (top-1): fused vs array_max over (sim, negid) structs
    // probing (top-3): fused vs slice(reverse(array_sort(...)))
    val hofRanked = reverse(array_sort(Similarity.bestCentroidsHof($"embedding", cents)))
    val both = emb.select(
      element_at(NativeExpressions.topCentroids($"embedding", cents, 1), 1).as("nat1"),
      (-element_at(hofRanked, 1).getField("negid")).cast("int").as("hof1"),
      NativeExpressions.topCentroids($"embedding", cents, 3).as("nat3"),
      transform(slice(hofRanked, 1, 3), r => (-r.getField("negid")).cast("int")).as("hof3"))
      .as[(Int, Int, Seq[Int], Seq[Int])].collect()
    assert(both.nonEmpty)
    both.foreach { case (n1, h1, n3, h3) =>
      assert(n1 == h1)
      assert(n3 == h3)
    }
  }

  test("aggregator-based knn equals the window-form reference") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val agg = Similarity.bruteForceTopK(emb, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val win = Similarity.bruteForceTopKWindow(emb, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(agg == win)
  }

  test("embedding near-dup pairs finds planted duplicates (default LSH blocking)") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings").limit(50)
    // plant: exact copies with shifted ids → cosine 1.0; identical vectors
    // land in the same bucket in EVERY table, so LSH recall on them is 1.
    val dups = emb.select(($"vec_id" + 100000).as("vec_id"), $"embedding", $"label")
    val corpus = emb.unionByName(dups)
    val pairs = Similarity.nearDupPairs(corpus, threshold = 0.999)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val expected = emb.select($"vec_id").as[Long].collect()
      .map(id => (id, id + 100000)).toSet
    assert(expected.subsetOf(pairs), s"missing planted dups: ${expected -- pairs}")
    // corpus itself has no near-dups at 0.999 (random vectors)
    assert((pairs -- expected).forall { case (a, b) => b - a == 100000 })
  }

  test("x45 threshold is not razor-edged: no corpus pair's cosine sits within 1e-9 of it") {
    // The x45 oracle compares PAIR MEMBERSHIP across engines, so a pair
    // whose cosine straddles NearDupThreshold between the two engines'
    // arithmetic flakes the gate — membership IS the result, and the
    // rank-only discipline (x05/x07) cannot hide it. Both faces now
    // compute in DOUBLE (the oracle casts ::DOUBLE[] — with FLOAT[]
    // DuckDB sims differ from Spark's by ~1e-6, and sf0.1 has a pair
    // 8.6e-6 from the threshold), leaving only double-vs-double
    // composition noise of ~1e-15. Assert every within-label pair
    // clears the threshold by > 1e-9 — a million times that noise — at
    // every scale factor, so a future corpus vintage that lands a pair
    // inside the band fails HERE loudly instead of flaking the driver.
    import Similarity.ColumnBlocking
    for (s <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val emb = Tables.load(spark, sf(s), "embeddings")
      // threshold -2 keeps every candidate pair (cosine >= -1): the
      // audit needs the sims the filter would discard.
      val margin = Similarity.nearDupPairs(emb, -2.0, ColumnBlocking("label"))
        .select(abs($"sim" - Similarity.NearDupThreshold).as("m"))
        .agg(min($"m")).as[Double].head()
      info(f"$s: min |sim - threshold| = $margin%.2e")
      assert(margin > 1e-9,
        f"$s has a pair within $margin%.2e of NearDupThreshold — cross-engine flake risk")
    }
  }

  test("near-dup blocking finds PERTURBED near-duplicates, not just exact copies") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings").limit(50)
    // shift every component by +0.005 (embeddings are unit vectors, so
    // this keeps cosine ~0.999) — the vector, and so its bucket hashes,
    // is no longer byte-identical.
    val dups = emb.select(($"vec_id" + 100000).as("vec_id"),
      transform($"embedding", x => (x + lit(0.005)).cast("float")).as("embedding"), $"label")
    val corpus = emb.unionByName(dups)
    val pairs = Similarity.nearDupPairs(corpus, threshold = 0.99)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val expected = emb.select($"vec_id").as[Long].collect()
      .map(id => (id, id + 100000)).toSet
    val recall = (expected intersect pairs).size.toDouble / expected.size
    info(f"perturbed near-dup recall = $recall%.2f")
    assert(recall >= 0.9, f"LSH blocking recall $recall%.2f too low for cos~0.999 pairs")
  }

  test("candidate-pair count scales with buckets, not block², on a hot block") {
    import Similarity.{ColumnBlocking, IvfBlocking, LshBlocking}
    // worst case the label-blocked form dies on: EVERY vector in one block
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
      .withColumn("label", lit("hot"))
    val n = emb.count()
    val quad = n * (n - 1) / 2
    assert(Similarity.candidatePairs(emb, ColumnBlocking("label")).count() == quad,
      "column blocking on a hot block must be exactly quadratic (the shape being avoided)")
    val viaLsh = Similarity.candidatePairs(emb, LshBlocking()).count()
    val viaIvf = Similarity.candidatePairs(emb, IvfBlocking(nCentroids = 32, nProbe = 2)).count()
    info(s"hot-block candidates: all-pairs=$quad lsh=$viaLsh ivf=$viaIvf")
    assert(viaLsh < quad / 10, s"LSH candidates $viaLsh not sub-quadratic (all-pairs $quad)")
    assert(viaIvf < quad / 2, s"IVF candidates $viaIvf not sub-quadratic (all-pairs $quad)")
  }

  test("top1 under ColumnBlocking equals the exact all-pairs in-block answer") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings").limit(100)
    val viaOp = Similarity.top1(emb, Similarity.ColumnBlocking("label"))
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    // independent exact reference: window over the in-block cross join
    val a = emb.select($"label", $"vec_id", $"embedding")
    val b = emb.select($"label", $"vec_id".as("nid"), $"embedding".as("nemb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"sim".desc, $"nid")
    val exact = a.join(b, Seq("label")).filter($"vec_id" =!= $"nid")
      .select($"vec_id", $"nid",
        VectorFunctions.cosine($"embedding", $"nemb").as("sim"))
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"vec_id", $"nid").orderBy("vec_id").as[(Long, Long)].collect().toSeq
    assert(viaOp == exact)
  }

  test("cosine is 1 for identical, 0 for orthogonal vectors") {
    val df = Seq(
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(0f, 0f, 0f), Array(1f, 1f, 1f))).toDF("a", "b")
    val sims = df.select(VectorFunctions.cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(sims(0) - 1.0) < 1e-12)
    assert(math.abs(sims(1)) < 1e-12)
    assert(sims(2) == 0.0) // zero-norm guarded
  }

  test("langId detects real-language samples") {
    val samples = Seq(
      ("the cat is in the house and it was a good day", "en"),
      ("el perro y la casa de los amigos es una historia", "es"),
      ("der hund und die katze ist nicht mit dem mann", "de"),
      ("le chien et les amis de la maison est une histoire pas pour", "fr"),
      ("这是不是一个人的他我在有了", "zh"), // unspaced — char-unigram signal
      ("wxyz qqq zzz", "und")).toDF("text", "expected")
    val got = samples.select($"expected", TextAnalysis.detectLang($"text").as("got"))
      .as[(String, String)].collect()
    got.foreach { case (exp, act) => assert(act == exp, s"expected $exp got $act") }
  }

  test("fingerprint is content-sensitive and stable") {
    val fps = Seq("hello world", "hello world", "hello worle", "")
      .toDF("text").select(TextAnalysis.fingerprint($"text")).as[Long].collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
    assert(fps(3) == 7L) // empty text pins to the seed (cross-engine safe)
  }

  test("multimodal: decode/features/frames plumbing round-trips") {
    val assets = Multimodal.syntheticAssets(spark, docs.limit(30), "doc_id", "text")
    val info30 = Multimodal.decode(assets).collect()
    assert(info30.length == 30)
    assert(info30.forall(i => i.width >= 64 && i.byte_size > 0))
    assert(info30.map(_.kind).toSet == Set("image", "audio", "video"))

    val feats = Multimodal.extractFeatures(assets, dim = 16)
    assert(feats.head().feature.length == 16)
    // deterministic: same payload → same feature
    val f2 = Multimodal.extractFeatures(assets, dim = 16)
    assert(feats.collect().map(_.feature.toSeq).toSeq ==
      f2.collect().map(_.feature.toSeq).toSeq)

    val frames = Multimodal.frameSample(assets, 4)
    val byAsset = frames.collect().groupBy(_.asset_id)
    assert(byAsset.values.forall(_.length == 4))
    // frames partition the payload: concat == original
    val orig = assets.collect().map(a => a.asset_id -> a.payload.toSeq).toMap
    byAsset.foreach { case (id, fs) =>
      assert(fs.sortBy(_.frame_idx).flatMap(_.frame_bytes).toSeq == orig(id))
    }
  }

  test("multimodal: real PNG and WAV decode to exact headers through the JDK") {
    val png = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Fixtures.tinyPng))
    val wav = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Fixtures.tinyWav))
    val assets = Seq(
      Multimodal.MediaAsset(1L, "image", png, Map("origin" -> "fixture")),
      // non-image bytes under kind=image: ImageIO refuses, stub fallback
      Multimodal.MediaAsset(2L, "image", "not an image".getBytes("UTF-8"), Map.empty),
      // real PNG bytes under kind=audio: not a WAV, so stub fallback —
      // the kind gates which real decoder is even attempted
      Multimodal.MediaAsset(3L, "audio", png, Map.empty),
      Multimodal.MediaAsset(4L, "audio", wav, Map("origin" -> "fixture"))).toDS()
    val out = Multimodal.decode(assets).collect().sortBy(_.asset_id)
    assert(out(0).width == 7 && out(0).height == 5 && out(0).n_frames == 1,
      s"real PNG header misread: ${out(0)}")
    assert(out(0).byte_size == png.length)
    assert(out(1).width >= 64 && out(1).height >= 64, "stub fallback lost")
    assert(out(2).n_frames > 1 || out(2).width >= 64,
      "non-WAV audio payload must take the stub path")
    // WAV header mapped onto (width=sample rate, height=channels, frames)
    assert(out(3).width == 8000 && out(3).height == 1 && out(3).n_frames == 220,
      s"real WAV header misread: ${out(3)}")
  }

  test("multimodal: real PCM audio and pixel image features, exact on known signals") {
    // 16-bit mono 8 kHz square wave alternating ±16384: every stat is
    // known a priori and exact — rms = 0.5, peak = 0.5, and a crossing at
    // EVERY transition so zcr = 1.0. Non-circular: the expectation comes
    // from arithmetic, not from running the decoder.
    val n = 200
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](n * 2)
    (0 until n).foreach { i =>
      val s: Short = if (i % 2 == 0) 16384 else -16384
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val Some(Array(rms, zcr, peak)) = Multimodal.audioSignalFeatures(bos.toByteArray)
    assert(rms == 0.5f && peak == 0.5f && zcr == 1.0f,
      s"square-wave stats off: rms=$rms zcr=$zcr peak=$peak")

    // solid-white 4x4 PNG: mean luminance 1, std 0, dims real
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 4).foreach(y => (0 until 4).foreach(x => img.setRGB(x, y, 0xffffff)))
    val pbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pbos)
    val Some(Array(w, h, mean, std)) = Multimodal.imageSignalFeatures(pbos.toByteArray)
    assert(w == 4f && h == 4f)
    assert(math.abs(mean - 1.0f) < 1e-6 && std < 1e-6,
      s"white-image stats off: mean=$mean std=$std")

    // end-to-end through extractFeatures: decodable payloads take the
    // real path (leading dims = signal stats, trailing dims zero);
    // undecodable ones keep the stub
    val wavFix = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Fixtures.tinyWav))
    val assets = Seq(
      Multimodal.MediaAsset(1L, "audio", bos.toByteArray, Map.empty),
      Multimodal.MediaAsset(2L, "audio", wavFix, Map.empty),
      Multimodal.MediaAsset(3L, "audio", "not audio".getBytes("UTF-8"), Map.empty),
      Multimodal.MediaAsset(4L, "image", pbos.toByteArray, Map.empty)).toDS()
    val feats = Multimodal.extractFeatures(assets, dim = 8)
      .collect().map(f => f.asset_id -> f.feature).toMap
    assert(feats(1L).take(3).toSeq == Seq(0.5f, 1.0f, 0.5f))
    assert(feats(1L).drop(3).forall(_ == 0f), "trailing dims must stay zero")
    val fix = feats(2L)
    assert(fix(0) > 0f && fix(0) <= fix(2) && fix(2) <= 1f,
      s"fixture WAV stats implausible: ${fix.toSeq}")
    // undecodable payload under kind=audio: real decoder refuses, the
    // deterministic stub takes over (identical to featureStub's output)
    assert(Multimodal.audioSignalFeatures("not audio".getBytes("UTF-8")).isEmpty)
    assert(feats(3L).toSeq ==
      Multimodal.featureStub("not audio".getBytes("UTF-8"), 8).toSeq)
    assert(feats(4L).take(4).toSeq == Seq(4f, 4f, 1.0f, 0f),
      s"white-image features off: ${feats(4L).toSeq}")
  }

  test("multimodal: animated GIF video decodes real frame count and real frames") {
    val gif = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Fixtures.tinyGif))
    val assets = Seq(
      Multimodal.MediaAsset(1L, "video", gif, Map("origin" -> "fixture")),
      // non-container bytes under kind=video: stub fallback, not a failure
      Multimodal.MediaAsset(2L, "video", "not a video".getBytes("UTF-8"), Map.empty)).toDS()
    val out = Multimodal.decode(assets).collect().sortBy(_.asset_id)
    assert(out(0).width == 9 && out(0).height == 7 && out(0).n_frames == 4,
      s"real GIF header misread: ${out(0)}")
    assert(out(1).width >= 64, "stub fallback lost for undecodable video")

    // frameSample returns the TRUE frames as standalone PNGs: each one
    // decodes through plain ImageIO to the fixture's dims and its known
    // solid color (red, green, blue, yellow in frame order)
    val frames = Multimodal.frameSample(assets, 4).collect()
      .filter(_.asset_id == 1L).sortBy(_.frame_idx)
    assert(frames.length == 4)
    val expected = Seq(0xFF0000, 0x00FF00, 0x0000FF, 0xFFFF00)
    frames.zip(expected).foreach { case (f, color) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f.frame_bytes))
      assert(img != null, s"frame ${f.frame_idx} is not a decodable PNG")
      assert(img.getWidth == 9 && img.getHeight == 7)
      assert((img.getRGB(4, 3) & 0xFFFFFF) == color,
        f"frame ${f.frame_idx} center pixel ${img.getRGB(4, 3) & 0xFFFFFF}%06X != $color%06X")
    }
    // asking for fewer frames than the container holds samples evenly
    val two = Multimodal.frameSample(assets, 2).collect()
      .filter(_.asset_id == 1L).sortBy(_.frame_idx)
    assert(two.length == 2)
    val colors2 = two.map { f =>
      javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(f.frame_bytes)).getRGB(4, 3) & 0xFFFFFF
    }.toSeq
    assert(colors2 == Seq(0xFF0000, 0x0000FF), // frames 0 and 2 of 4
      colors2.map(c => f"$c%06X").toString)
  }

  test("multimodal: inter-frame-optimized GIF frames are composited, not raw patches") {
    // real GIF optimizers store frame 1+ as changed-rect patches; the
    // fixture's frame 1 is ONLY a 4x3 green rect at (2,1). A correct
    // frame sampler must return logical-screen-sized composites.
    val gif = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Fixtures.tinyGifPatch))
    val assets = Seq(
      Multimodal.MediaAsset(1L, "video", gif, Map("origin" -> "fixture"))).toDS()
    // header decode reports the LOGICAL SCREEN, not a patch raster
    val info = Multimodal.decode(assets).head()
    assert(info.width == 10 && info.height == 8 && info.n_frames == 2,
      s"optimized-GIF header misread: $info")
    val frames = Multimodal.frameSample(assets, 2).collect().sortBy(_.frame_idx)
    assert(frames.length == 2)
    val imgs = frames.map(f => javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(f.frame_bytes)))
    // BOTH frames are full logical-screen size
    imgs.foreach(img => assert(img.getWidth == 10 && img.getHeight == 8,
      s"frame not composited to screen size: ${img.getWidth}x${img.getHeight}"))
    def rgb(i: Int, x: Int, y: Int) = imgs(i).getRGB(x, y) & 0xFFFFFF
    assert(rgb(0, 0, 0) == 0xFF0000 && rgb(0, 3, 2) == 0xFF0000)
    // frame 1: green only inside the patch rect (x 2-5, y 1-3), the
    // prior frame's red everywhere else
    assert(rgb(1, 3, 2) == 0x00FF00, f"patch pixel ${rgb(1, 3, 2)}%06X")
    assert(rgb(1, 0, 0) == 0xFF0000, f"background pixel ${rgb(1, 0, 0)}%06X")
    assert(rgb(1, 9, 7) == 0xFF0000)
  }

  test("text-pipeline ops run unchanged under the streaming planner") {
    // the doc-prep projection (quality signals + lang-id + PII scrub +
    // fingerprint) is all narrow expressions, so the SAME code must run
    // incrementally on a stream and agree with the batch form row-by-row
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        size(TextAnalysis.wsTokens(col("text"))).as("n_tokens"),
        TextAnalysis.detectLang(col("text")).as("detected"),
        TextAnalysis.scrubPii(col("text")).as("scrubbed"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    val rows = docs.limit(30).select($"doc_id", $"text", $"lang", $"source")
      .as[(Long, String, String, String)].collect().toSeq
    val stream = MemoryStream[(Long, String, String, String)]
    val q = prep(stream.toDF().toDF("doc_id", "text", "lang", "source")
        .withColumn("text", concat($"text", lit(" ping 555-123-4567"))))
      .writeStream.outputMode("append").format("memory")
      .queryName("docprep_out").start()
    try {
      stream.addData(rows.take(15)); q.processAllAvailable()
      stream.addData(rows.drop(15)); q.processAllAvailable()
      val streamed = spark.table("docprep_out").collect().map(_.toString).sorted.toSeq
      val batch = prep(docs.limit(30)
          .withColumn("text", concat($"text", lit(" ping 555-123-4567"))))
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch)
      assert(spark.table("docprep_out")
        .filter($"scrubbed".contains("<PHONE>")).count() == 30)
    } finally q.stop()
  }

  test("doc-prep reports one drop reason per doc with the declared precedence") {
    import graft.operators.DocPrep
    val d = Seq(
      // reference doc (also short — 'reference' must win the precedence)
      (1L, "eval span alpha beta gamma delta", "src0"),
      // too-short training doc that ALSO duplicates doc 3 — too_short wins
      (2L, "twin text body here", "src5"),
      (3L, "twin text body here", "src5"),   // keeper (min id of the pair is 2... see below)
      // long-enough unique clean doc
      (4L, ("word " * 45).trim, "src6"),
      // long-enough doc contaminated by the reference 4-gram
      (5L, ("pad " * 40).trim + " eval span alpha beta gamma delta", "src7")
    ).toDF("doc_id", "text", "source")
    val out = DocPrep.prepare(d, minTokens = 5, k = 4)
      .orderBy($"doc_id").as[(Long, Long, Option[String])].collect()
    assert(out(0) == ((1L, 6L, Some("reference"))))
    assert(out(1) == ((2L, 4L, Some("too_short"))))   // 4 tokens < 5
    assert(out(2) == ((3L, 4L, Some("too_short"))))   // short wins over duplicate
    assert(out(3) == ((4L, 45L, None)))               // kept
    assert(out(4) == ((5L, 46L, Some("contaminated"))))
    // raise the bar: with minTokens = 3, the duplicate reason surfaces for
    // the higher id of the twin pair only
    val out2 = DocPrep.prepare(d, minTokens = 3, k = 4)
      .orderBy($"doc_id").as[(Long, Long, Option[String])].collect()
    assert(out2(1) == ((2L, 4L, None)))               // keeper (min id)
    assert(out2(2) == ((3L, 4L, Some("duplicate"))))
  }

  test("streaming exact dedup keeps first arrival per fingerprint (x01's stream form)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("doc_id", "text")
      .withColumn("fp", TextAnalysis.fingerprint($"text"))
      .dropDuplicates("fp")
      .writeStream.outputMode("append").format("memory")
      .queryName("sdedup_out").start()
    try {
      val base = docs.limit(20).select($"doc_id", $"text")
        .as[(Long, String)].collect().toSeq
      stream.addData(base); q.processAllAvailable()
      // a later batch of exact copies under new ids adds NO rows — the
      // dedup state spans micro-batches
      stream.addData(base.take(10).map { case (id, t) => (id + 1000, t) })
      q.processAllAvailable()
      val kept = spark.table("sdedup_out").select("doc_id").as[Long].collect().toSet
      assert(kept == base.map(_._1).toSet,
        s"streaming dedup kept ${kept.size} rows, expected first arrivals only")
    } finally q.stop()
  }

  test("exact dedup collapses planted copies") {
    val base = docs.limit(10).select($"doc_id", $"text")
    val copies = base.select(($"doc_id" + 500).as("doc_id"), $"text")
    val out = Dedup.exactDedup(base.unionByName(copies))
    assert(out.count() == 10)
    assert(out.filter($"n_copies" =!= 2).isEmpty)
  }

  test("hashContent exact dedup equals the raw-text form; no string shuffle keys") {
    // x44's plan: group on (length, xxhash64, seeded xxhash64) instead of
    // whole-document keys. Same output on real corpus data...
    val base = docs.limit(300).select($"doc_id", $"text")
    val copies = base.limit(40).select(($"doc_id" + 9000).as("doc_id"), $"text")
    val d = base.unionByName(copies)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Dedup.exactDedup(d, hashContent = true)) == rows(Dedup.exactDedup(d)))
    // ...and the aggregate genuinely groups on fixed-width keys: no
    // StringType grouping expression survives optimization.
    val aggs = Dedup.exactDedup(d, hashContent = true)
      .queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
    assert(aggs.nonEmpty)
    aggs.foreach { a =>
      assert(a.groupingExpressions.forall(_.dataType !=
        org.apache.spark.sql.types.StringType),
        s"string grouping key survived: ${a.groupingExpressions}")
    }
  }

  test("word_shingles_all keeps duplicates in position order") {
    val out = Seq("a b a b a").toDF("text")
      .select(Dedup.wordShinglesAll($"text", 2).as("g"))
      .as[Seq[String]].head()
    assert(out == Seq("a b", "b a", "a b", "b a"))
    val distinct = Seq("a b a b a").toDF("text")
      .select(Dedup.wordShingles($"text", 2).as("g"))
      .as[Seq[String]].head()
    assert(distinct == Seq("a b", "b a"))
  }

  test("repetition signals count token and 2-gram multiplicity exactly") {
    val d = Seq(
      (1L, "spam spam spam ham"), // 4 tok / 2 uniq, top=3; 3 2-grams ("spam spam" x2)
      (2L, "all words unique here"),
      (3L, "")                    // zero tokens -> all-zero row, not dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(d).orderBy($"doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(out(0) == ((1L, 4L, 2L, 3L, 3L, 2L, 2L)))
    assert(out(1) == ((2L, 4L, 4L, 1L, 3L, 3L, 1L)))
    assert(out(2) == ((3L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("dup spans count cross-document duplicated k-grams, not within-doc repeats") {
    val d = Seq(
      (1L, "shared four gram span plus tail one"),
      (2L, "prefix two shared four gram span end"),
      // doc 3 repeats its own 4-gram twice but shares nothing cross-doc
      (3L, "own own own own x own own own own")
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(d, k = 4).orderBy($"doc_id")
      .as[(Long, Long, Long)].collect()
    // docs 1/2 share "shared four gram span": two positions in 1? one in each
    assert(out(0) == ((1L, 4L, 1L)))
    assert(out(1) == ((2L, 4L, 1L)))
    assert(out(2) == ((3L, 6L, 0L)))
  }

  test("hash-gram shuffle keys produce identical gram-pipeline outputs") {
    // hashGrams=true keys every gram shuffle on xxhash64(gram) (the 100 TB
    // form: 8-byte shuffle rows) — outputs must match the raw-string
    // oracle face exactly on real corpus data, for all three pipelines
    val d = docs.limit(200)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Dedup.ngramCandidatePairs(d, hashGrams = true)) ==
      rows(Dedup.ngramCandidatePairs(d)))
    assert(rows(Dedup.dupSpans(d, hashGrams = true)) == rows(Dedup.dupSpans(d)))
    val isRef = col("source").isin("src0", "src1")
    assert(rows(Dedup.decontaminate(d.filter(!isRef), d.filter(isRef), hashGrams = true)) ==
      rows(Dedup.decontaminate(d.filter(!isRef), d.filter(isRef))))
    // and the hashed form's gram shuffles genuinely carry longs: no
    // string-typed gram column survives into its aggregates
    val plan = Dedup.dupSpans(d, hashGrams = true)
      .queryExecution.analyzed.toString
    assert(plan.contains("xxhash64"), s"hashed form lost its hash key:\n$plan")
  }

  test("connected components: empty edge set labels every node a singleton") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = Dedup.connectedComponents(nodes, edges)
      .orderBy($"id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("connected components propagate min label across multi-hop chains") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    // a 5-node chain (diameter 4 forces several propagation rounds) + isolate
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L)).toDF("src", "dst")
    val out = Dedup.connectedComponents(nodes, edges)
      .orderBy($"id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (9L, 9L)))
  }

  test("connected components: pointer jumping stays O(log diameter) on a 1e5-node chain") {
    // worst-case topology for label propagation: one chain, diameter 1e5.
    // plain hash-min needs O(diameter) rounds; pointer jumping must close
    // it in O(log diameter).
    val n = 100000L
    val nodes = spark.range(0, n).toDF("id")
    val edges = spark.range(0, n - 1)
      .select($"id".as("src"), ($"id" + 1).as("dst"))
    val (out, rounds) = Dedup.connectedComponentsWithRounds(nodes, edges)
    val bound = 2 * math.ceil(math.log(n.toDouble) / math.log(2)).toInt + 2
    info(s"rounds = $rounds for diameter ${n - 1} (bound $bound)")
    assert(rounds <= bound, s"$rounds rounds exceeds O(log d) bound $bound")
    assert(out.filter($"label" =!= 0L).limit(1).count() == 0,
      "chain must collapse to the minimum id")
  }

  test("connected components: reliable-checkpoint mode matches local and writes files") {
    // cluster-durability path: lineage cut through Dataset.checkpoint
    // against a reliable dir (survives executor loss), same labels out
    // inside one temp root, so the string-prefix twin below is in it too
    val dir = tempDir("cc-reliable").resolve("cc-12").toString
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L)).toDF("src", "dst")
    val local = Dedup.connectedComponents(nodes, edges)
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    val reliable = Dedup.connectedComponents(nodes, edges, checkpointDir = Some(dir))
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    assert(reliable == local)
    def hasFile(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles()).exists(_.exists(hasFile))
    assert(hasFile(new java.io.File(dir)),
      s"no reliable checkpoint data written under $dir")
    // idempotence vs redirection: re-running with the SAME dir must not
    // re-set the session dir (no orphan UUID subdir minted)...
    val sc = spark.sparkContext
    val afterFirst = sc.getCheckpointDir
    Dedup.connectedComponents(nodes, edges, checkpointDir = Some(dir)).count()
    assert(sc.getCheckpointDir == afterFirst,
      "same-dir rerun re-set the session checkpoint dir")
    // ...but a DIFFERENT dir that happens to be a string prefix of the
    // current one must redirect there, not silently reuse the old dir
    val prefixDir = dir.substring(0, dir.length - 1)
    Dedup.connectedComponents(nodes, edges, checkpointDir = Some(prefixDir)).count()
    val parent = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get).getParent
    val wanted = new org.apache.hadoop.fs.Path(prefixDir)
      .getFileSystem(sc.hadoopConfiguration)
      .makeQualified(new org.apache.hadoop.fs.Path(prefixDir))
    assert(parent == wanted,
      s"prefix-overlapping dir was not honored: $parent vs $wanted")
    assert(hasFile(new java.io.File(prefixDir)),
      s"no reliable checkpoint data written under $prefixDir")
  }

  test("int8 quantization: dequantized values within half a step; zero-safe") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings").limit(50)
    val rows = emb.select($"embedding", Similarity.quantize($"embedding").as("qz"))
      .select($"embedding", $"qz.code", $"qz.scale")
      .as[(Seq[Float], Seq[Byte], Double)].collect()
    rows.foreach { case (v, code, scale) =>
      assert(code.length == v.length)
      if (scale > 0) {
        val step = 1.0 / scale
        v.zip(code).foreach { case (x, q) =>
          assert(math.abs(x - q / scale) <= step / 2 + 1e-9,
            s"quantization error beyond half step: $x vs ${q / scale}")
        }
        assert(code.map(_.toInt.abs).max <= 127)
      }
    }
    // all-zero vector: scale 0, all-zero code, no NaN/overflow
    val z = Seq((1L, Seq.fill(4)(0f))).toDF("vec_id", "embedding")
      .select(Similarity.quantize($"embedding").as("qz"))
      .select($"qz.code", $"qz.qnorm", $"qz.scale")
      .as[(Seq[Byte], Double, Double)].head()
    assert(z == ((Seq.fill(4)(0: Byte), 0.0, 0.0)))
  }

  test("native dot_product_bytes equals the HOF fold; null on degenerate input") {
    import graft.functions.expressions.NativeExpressions.dotProductBytes
    val d = Seq(
      (Seq[Byte](1, -2, 3), Seq[Byte](4, 5, -6)),
      (Seq[Byte](127, 127, 127), Seq[Byte](127, 127, 127))).toDF("a", "b")
    val hof = d.select(aggregate(zip_with($"a", $"b",
      (x, y) => x.cast("long") * y.cast("long")), lit(0L), _ + _)).as[Long].collect()
    val nat = d.select(dotProductBytes($"a", $"b")).as[Long].collect()
    assert(nat.toSeq == hof.toSeq)
    val mismatch = Seq((Seq[Byte](1, 2), Seq[Byte](1, 2, 3))).toDF("a", "b")
      .select(dotProductBytes($"a", $"b")).collect()
    assert(mismatch(0).isNullAt(0), "length mismatch must be null")
  }

  test("quantized knn with exact re-rank matches brute-force recall target") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .as[(Long, Long, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val quant = Similarity.quantizedTopK(emb, queries, 5)
      .as[(Long, Long, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      quant.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    info(f"quantized recall@5 mean: $mean%.3f")
    assert(mean >= 0.95, f"int8+rerank recall $mean%.3f below target")
  }

  test("decontamination flags planted eval spans and broadcasts the reference") {
    val ref = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val cand = Seq(
      (1L, "prefix words then alpha beta gamma delta end"), // one 4-gram hit
      (2L, "totally unrelated content with no overlap here"),
      (3L, "alpha beta gamma delta epsilon tail words")     // two hits
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(cand, ref).orderBy($"doc_id")
      .as[(Long, Long, Long)].collect()
    assert(out(0) == ((1L, 5L, 1L)))
    assert(out(1) == ((2L, 4L, 0L)))
    assert(out(2) == ((3L, 4L, 2L)))
    // plan: the distinct reference grams must broadcast (eval sets are
    // tiny next to the training corpus — the probe side never shuffles)
    val p = Dedup.decontaminate(cand, ref).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"reference grams not broadcast:\n$p")
  }

  test("x84-x86 exact faces agree with their sketch twins' guarantees") {
    import graft.operators.Sketches
    val dir = sf("sf0.001")
    // x84 vs x15: the HLL estimate tracks the exact face's answer
    val exact = Sketches.distinctExactQuery(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Sketches.hllRollup(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet == approx.keySet, "grouping sets drifted between faces")
    exact.foreach { case (g, e) =>
      assert(math.abs(approx(g) - e).toDouble / e < 0.05,
        s"$g: sketch ${approx(g)} vs exact $e")
    }
    // x85 sanity: per-group quantiles are real values with p50 <= p95,
    // n matches the exact face's group weights
    val q = Sketches.quantilesExactQuery(spark, dir).collect()
    assert(q.map(_.getString(0)).toSet == exact.keySet)
    q.foreach { r => assert(r.getDouble(2) <= r.getDouble(3),
      s"${r.getString(0)}: p50 > p95") }
    // x86 vs x54: NO_FALSE_NEGATIVES — every exactly-heavy item appears
    // in the sketch rollup's report for its group
    val exactHeavy = Sketches.freqExactQuery(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    val sketched = Sketches.freqRollup(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    val missed = exactHeavy -- sketched
    assert(missed.isEmpty, s"sketch missed exactly-heavy items: ${missed.take(5)}")
  }

  test("hll rollup: per-group and total estimates track exact counts") {
    import graft.operators.Sketches
    val out = Sketches.hllRollup(spark, sf("sf0.01")).collect()
    // truth computed independently here — the QUERY carries no exact
    // distinct (that dedup shuffle is what the sketch replaces)
    val li = Tables.load(spark, sf("sf0.01"), "lineitem")
    val exactByFlag = li.groupBy(col("l_returnflag"))
      .agg(count_distinct(col("l_partkey")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val flags = out.filter(_.getString(0) != "TOTAL")
    assert(flags.map(_.getString(0)).toSet == exactByFlag.keySet)
    flags.foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = exactByFlag(r.getString(0)).toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"flag ${r.getString(0)}: approx $approx vs exact $exact")
    }
    // mergeability: a UNION of per-group sketches answers the same
    // question as the rollup's direct grand-total sketch. Estimates are
    // NOT bit-identical in the sparse regime (a single-partition sketch
    // can stay in exact coupon mode while a merge promotes to HLL mode),
    // so the contract is relative: both within the configured rsd of
    // exact.
    val exact = li.agg(count_distinct(col("l_partkey"))).head.getLong(0).toDouble
    val union = li.groupBy(col("l_returnflag"))
      .agg(hll_sketch_agg(col("l_partkey"), Sketches.LgK).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e")).head.getLong(0)
    val total = out.find(_.getString(0) == "TOTAL").get.getLong(1)
    assert(math.abs(total - exact) / exact < 0.05,
      s"rollup total $total vs exact $exact")
    assert(math.abs(union - exact) / exact < 0.05,
      s"union-of-sketches $union vs exact $exact")
  }

  test("hll sketch estimate is partition-tolerant (mergeable aggregation)") {
    import graft.operators.Sketches
    val li = Tables.load(spark, sf("sf0.01"), "lineitem")
    val exact = li.agg(count_distinct(col("l_partkey"))).head.getLong(0).toDouble
    def est(parts: Int): Long = li.repartition(parts)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("l_partkey"), Sketches.LgK)))
      .head.getLong(0)
    // merging 32 partial sketches must answer within rsd of the
    // single-partition build — that is what makes the aggregation safe
    // to distribute (and to pre-aggregate into daily sketch tables)
    Seq(est(1), est(32)).foreach(e =>
      assert(math.abs(e - exact) / exact < 0.05, s"estimate $e vs exact $exact"))
  }

  test("count-min sketch upper-bounds every token frequency within eps") {
    import graft.operators.Sketches
    val toks = docs.select(explode(TextAnalysis.wsTokens($"text")).as("tok"))
    val bytes = Sketches.countMin(toks, "tok").head.getAs[Array[Byte]]("cms")
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val truth = toks.groupBy($"tok").count().as[(String, Long)].collect()
    val n = truth.map(_._2).sum
    truth.foreach { case (tok, c) =>
      val est = cms.estimateCount(tok.getBytes("UTF-8"))
      assert(est >= c, s"cms underestimated '$tok': $est < $c")
      assert(est <= c + math.ceil(0.001 * n).toLong + 1,
        s"cms error beyond eps for '$tok': $est vs $c (n=$n)")
    }
  }

  test("pii scrub redacts emails, ips, and phones with typed placeholders") {
    val d = Seq(
      "contact me at john.doe+spam@example.co.uk today",
      "server at 192.168.1.254 port 8080",
      "call +1 (555) 123-4567 now",
      "clean text with no pii at all",
      // digit runs that must NOT be redacted: ISO date-times (8 digits,
      // leading year), slashed dates, dash-dated DoB — all below the
      // 9-digit phone floor or behind the year guard
      "logged 2024-01-01 10:30 and 2024/01/01 and dob 01-01-1994",
      "local line 555-123-4567 rings",
      // back-to-back timestamps: the digits spanning minute-of-one to
      // date-of-next total >= 9, so only the contains-year veto saves them
      "window 2024-01-01 10:30 2024-01-02 11:45 closed",
      "dotted form 555.123.4567 dials",
      // >= 16 digits: above the E.164 ceiling, must survive WHOLE —
      // including mid-run restarts after a separator (no partial
      // <PHONE> over a suffix of the card number)
      "card 1234 5678 9012 3456 on file",
      "serial 12345678901234567890 logged",
      // 15 digits is the E.164 maximum: still a phone
      "intl +123 4567 8901 2345 rings",
      // >= 4 separator chars END a run: the 5-digit prefix is its own
      // (sub-floor) run, the 13-digit tail its own phone-range run
      "a 12345    5678901234567 b",
      // documented edge: a phone within 3 separators of a preceding
      // digit run merges into it — 17 digits total rides the >=16 veto
      "invoice 1234567 555-123-4567 end",
      // the date guard uses the SAME run definition as everything else:
      // a gap of >= 4 separators ends the run, so a year beyond the gap
      // is a separate run and cannot veto the phone
      "call 555-123-4567      2024-01-01",
      "wide 555-123-4567 - - - - 2024-06-01",
      // ...but a year within 3 separators (or bridged by digits at <= 3
      // separator gaps) is the same run: documented veto, phone survives
      "ship 555-123-4567 2024-06-01 due",
      "run 555-123-4567 777 2024-06-01 on").toDF("text")
    val out = d.select(TextAnalysis.scrubPii($"text").as("s"),
      TextAnalysis.piiSignals($"text").as("p")).collect()
    assert(out(0).getString(0) == "contact me at <EMAIL> today")
    assert(out(1).getString(0) == "server at <IP> port 8080")
    assert(out(2).getString(0) == "call <PHONE> now")
    assert(out(3).getString(0) == "clean text with no pii at all")
    assert(out(4).getString(0) ==
      "logged 2024-01-01 10:30 and 2024/01/01 and dob 01-01-1994")
    assert(out(5).getString(0) == "local line <PHONE> rings")
    assert(out(6).getString(0) == "window 2024-01-01 10:30 2024-01-02 11:45 closed")
    assert(out(7).getString(0) == "dotted form <PHONE> dials")
    assert(out(8).getString(0) == "card 1234 5678 9012 3456 on file")
    assert(out(9).getString(0) == "serial 12345678901234567890 logged")
    assert(out(10).getString(0) == "intl <PHONE> rings")
    assert(out(11).getString(0) == "a 12345    <PHONE> b")
    assert(out(12).getString(0) == "invoice 1234567 555-123-4567 end")
    assert(out(13).getString(0) == "call <PHONE>      2024-01-01")
    assert(out(14).getString(0) == "wide <PHONE> - - - - 2024-06-01")
    assert(out(15).getString(0) == "ship 555-123-4567 2024-06-01 due")
    assert(out(16).getString(0) == "run 555-123-4567 777 2024-06-01 on")
    val counts = out.map(r => (r.getStruct(1).getInt(0),
      r.getStruct(1).getInt(1), r.getStruct(1).getInt(2)))
    assert(counts(0) == ((1, 0, 0)))
    assert(counts(1) == ((0, 1, 0)))
    assert(counts(2) == ((0, 0, 1)))
    assert(counts(3) == ((0, 0, 0)))
    assert(counts(4) == ((0, 0, 0)))
    assert(counts(5) == ((0, 0, 1)))
    assert(counts(6) == ((0, 0, 0)))
    assert(counts(7) == ((0, 0, 1)))
    assert(counts(8) == ((0, 0, 0)))
    assert(counts(9) == ((0, 0, 0)))
    assert(counts(10) == ((0, 0, 1)))
    assert(counts(11) == ((0, 0, 1)))
    assert(counts(12) == ((0, 0, 0)))
    assert(counts(13) == ((0, 0, 1)))
    assert(counts(14) == ((0, 0, 1)))
    assert(counts(15) == ((0, 0, 0)))
    assert(counts(16) == ((0, 0, 0)))
  }

  test("PII registry: custom pattern sets round-trip and keep declared precedence") {
    // a custom registry (an SSN rule plus a STRICT phone shape) replaces
    // the defaults wholesale — nothing of the default chain leaks in
    val custom = Seq(
      "SSN" -> "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",
      "PHONE" -> "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b")
    val d = Seq(
      "ssn 123-45-6789 on file",
      "call 555-123-4567 now",
      "reach me at bob@example.com").toDF("text") // email NOT in the custom set
    val out = d.select(
      TextAnalysis.scrubPii($"text", custom).as("s"),
      TextAnalysis.piiSignals($"text", custom).as("p")).collect()
    assert(out(0).getString(0) == "ssn <SSN> on file")
    assert(out(1).getString(0) == "call <PHONE> now")
    assert(out(2).getString(0) == "reach me at bob@example.com")
    // struct fields are named n_<name> in registry order
    assert(out(0).getStruct(1).schema.fieldNames.toSeq == Seq("n_ssn", "n_phone"))
    assert(out(0).getStruct(1).getInt(0) == 1 && out(0).getStruct(1).getInt(1) == 0)
    // precedence: with SSN first, an SSN is NOT also counted/redacted as
    // a phone-ish run; flipping the order flips the winner
    val flipped = Seq("PHONE" -> "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",
      "SSN" -> "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b") // same shape, phone first
    val both = Seq("id 123-45-6789 end").toDF("text")
    assert(both.select(TextAnalysis.scrubPii($"text", custom)).head.getString(0)
      == "id <SSN> end")
    assert(both.select(TextAnalysis.scrubPii($"text", flipped)).head.getString(0)
      == "id <PHONE> end")
    // defaults unchanged: the no-arg form still applies EMAIL→IP→PHONE
    assert(Seq("a@b.co 1.2.3.4").toDF("text")
      .select(TextAnalysis.scrubPii($"text")).head.getString(0) == "<EMAIL> <IP>")
    // guards: empty and duplicate-name registries are rejected eagerly
    intercept[IllegalArgumentException] { TextAnalysis.scrubPii($"text", Nil) }
    intercept[IllegalArgumentException] {
      TextAnalysis.piiSignals($"text", Seq("A" -> "x", "A" -> "y"))
    }
  }

  test("topTermsByDf: document frequency, per-doc distinct, count-desc term-asc ties") {
    val d = Seq(
      (1L, "en", "the the the cat"),   // "the" counts ONCE for this doc
      (2L, "en", "the dog"),
      (3L, "en", "cat dog"),
      (4L, "fr", "le le chat")
    ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.topTermsByDf(d, $"lang", $"text", 2)
      .orderBy($"_grp", $"df".desc, $"token")
      .as[(String, String, Long)].collect().toSeq
    // en dfs: the=2, cat=2, dog=2 → top-2 by (df desc, term asc) = cat, dog
    // fr dfs: le=1, chat=1 → chat, le
    assert(got == Seq(
      ("en", "cat", 2L), ("en", "dog", 2L),
      ("fr", "chat", 1L), ("fr", "le", 1L)))
  }

  test("topTermsByDf heap matches the window form on the corpus") {
    val viaHeap = TextAnalysis.topTermsQuery(spark, sf("sf0.001"))
      .as[(String, String, Long)].collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"df".desc, $"token")
    val viaWindow = docs
      .select($"lang", explode(array_distinct(TextAnalysis.wsTokens($"text"))).as("token"))
      .groupBy($"lang", $"token").agg(count(lit(1)).as("df"))
      .withColumn("rn", row_number().over(w)).filter($"rn" <= TextAnalysis.TopTermsK)
      .select($"lang", $"token", $"df")
      .orderBy($"lang", $"df".desc, $"token")
      .as[(String, String, Long)].collect().toSeq
    assert(viaHeap == viaWindow)
  }

  test("dup clusters agree with candidate pairs: endpoints share a cluster") {
    val pairs = Dedup.ngramCandidatePairs(docs).select($"d1", $"d2")
      .as[(Long, Long)].collect()
    val labels = Dedup.dupClustersQuery(spark, sf("sf0.001"))
      .as[(Long, Long)].collect().toMap
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // and the label is always the component minimum: no label exceeds its id
    labels.foreach { case (id, l) => assert(l <= id) }
  }

  // ---------------------------------------------------------------- x46

  test("x46: verified pairs = driver-side exact Jaccard over the x03 candidates") {
    val cand = Dedup.ngramCandidatePairs(docs).select($"d1", $"d2")
      .as[(Long, Long)].collect()
    val shing = docs.select($"doc_id", Dedup.wordShingles($"text", 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val expected = cand.flatMap { case (a, b) =>
      val (sa, sb) = (shing(a).toSet, shing(b).toSet)
      val inter = (sa & sb).size
      val uni = (sa | sb).size
      if (inter * 2 >= uni) Some((a, b, inter.toLong, uni.toLong)) else None
    }.toSet
    val got = Dedup.verifiedPairsQuery(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty, "corpus should contain at least one verified near-dup")
    // and the accept step genuinely rejects: some candidates fail verify
    assert(got.size < cand.length, "threshold rejected nothing — vacuous verify")
  }

  test("x46: hashed-gram candidate generation yields the identical verified set") {
    val raw = Dedup.verifiedNearDupPairs(docs).select($"d1", $"d2")
      .as[(Long, Long)].collect().toSet
    val hashed = Dedup.verifiedNearDupPairs(docs, hashGrams = true)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(raw == hashed)
  }

  // ---------------------------------------------------------------- x47

  test("x47: Misra-Gries two-pass equals the plain aggregate under forced pruning") {
    // one partition whose distinct-bigram vocabulary (~916) exceeds the
    // summary capacity (800): the decrement rounds actually fire, and the
    // output must STILL equal the single groupBy it replaces
    val bigrams = docs
      .select(explode(Dedup.wordShinglesAll($"text", 2)).as("item"))
      .repartition(1)
    val share = TextAnalysis.HeavyShare
    val got = TextAnalysis.heavyHitters(bigrams, share, capacity = share)
      .as[(String, Long)].collect().toSet
    val n = bigrams.count()
    val expected = bigrams.groupBy($"item").agg(count(lit(1)).as("freq"))
      .filter($"freq" * share >= n).as[(String, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("misra-gries keeps a thinly-spread heavy item and never exceeds capacity") {
    // heavy item at global share just over 1/(capacity+1), never a local
    // run: the adversarial layout a naive per-partition top-k would lose
    val cap = 9
    val stream = (0 until 1000).map(i => if (i % 10 == 0) "HH" else s"n$i") :+ "HH"
    val out = TextAnalysis.misraGries(stream.iterator, cap).toSet
    assert(out.contains("HH"),
      s"count=101 > N/(cap+1)=${stream.size / (cap + 1)} must survive")
    assert(out.size <= cap)
  }

  test("heavyHitters rejects a capacity below the share denominator") {
    val items = docs.select($"text".as("item"))
    intercept[IllegalArgumentException] {
      TextAnalysis.heavyHitters(items, share = 100, capacity = 50)
    }
  }

  test("heavyHitters: a heavy NULL item survives, matching the plain twin") {
    // 60 of 100 rows null: the groupBy twin returns (null, 60); the
    // candidate semi-join must be null-safe or the heaviest item vanishes
    val items = spark.range(100)
      .select(when($"id" % 5 < 3, lit(null).cast("string"))
        .otherwise(concat(lit("v"), $"id")).as("item"))
    val share = 2
    val got = TextAnalysis.heavyHitters(items, share)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toSet
    val n = items.count()
    val expected = items.groupBy($"item").agg(count(lit(1)).as("freq"))
      .filter($"freq" * share >= n)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toSet
    assert(expected.contains(None -> 60L), "twin sanity: null group is heavy")
    assert(got == expected)
  }

  test("heavyHitters: empty input yields an empty result, not a crash") {
    val items = spark.range(0).select(concat(lit("v"), $"id").as("item"))
    assert(TextAnalysis.heavyHitters(items, share = 2).collect().isEmpty)
  }

  // ---------------------------------------------------------------- x51

  test("x51: media probe reports the committed fixtures' real decode values") {
    val out = Multimodal.mediaProbeQuery(spark, sf("sf0.001")).collect()
      .map(r => r.getLong(0) -> r).toMap
    // 4 fixtures + the doc_id < 100 synthetic assets
    val nSynth = docs.filter($"doc_id" < 100).count()
    assert(out.size == 4 + nSynth)
    val png = out(9000001L)
    assert(png.getInt(3) == 7 && png.getInt(4) == 5, s"png decode: $png")
    val gif = out(9000003L)
    assert(gif.getInt(5) == 4, s"animated gif frame count: $gif")
    // every video asset samples at least one real or sliced frame
    assert(gif.getLong(6) >= 1)
    val patch = out(9000004L)
    assert(patch.getInt(5) == 2 && patch.getInt(3) == 10 && patch.getInt(4) == 8,
      s"inter-frame-optimized gif: $patch")
    // deterministic: a second run returns the identical report
    val again = Multimodal.mediaProbeQuery(spark, sf("sf0.001")).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assert(again == out.map { case (k, r) => k -> r.toSeq })
  }

  // -------------------------------------------------- FI sketch (x54)

  test("freq rollup: bounds bracket exact counts and no heavy item is missed") {
    import graft.operators.Sketches
    val out = Sketches.freqRollup(spark, sf("sf0.001")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    // exact truth per (lang, bigram) and per bigram overall
    val bigrams = docs.select($"lang",
        explode(graft.operators.Dedup.wordShinglesAll($"text", 2)).as("item"))
      .groupBy($"lang", $"item").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = bigrams.groupBy(_._1._2).map { case (i, m) => i -> m.values.sum }
    def truth(grp: String, item: String): Long =
      if (grp == "TOTAL") totals.getOrElse(item, 0L)
      else bigrams.getOrElse((grp, item), 0L)
    val nByGrp = out.map(r => r._1 -> r._2).toMap
    // exact stream weights ride along
    val exactN = bigrams.toSeq.map { case ((l, _), c) => l -> c }
      .groupBy(_._1).map { case (l, cs) => l -> cs.map(_._2).sum }
    nByGrp.foreach { case (g, n) =>
      val expect = if (g == "TOTAL") exactN.values.sum else exactN(g)
      assert(n == expect, s"$g: stream weight $n != $expect")
    }
    // every reported item's bounds bracket its true count
    out.foreach { case (g, _, item, est, lb, ub) =>
      val t = truth(g, item)
      assert(lb <= t && t <= ub && lb <= est && est <= ub,
        s"$g/$item: bounds [$lb, $ub] est $est vs true $t")
    }
    // NO FALSE NEGATIVES: every item with true count STRICTLY over the
    // threshold is reported (the sketch's guarantee is ub > threshold)
    val reported = out.map(r => (r._1, r._3)).toSet
    bigrams.foreach { case ((l, i), c) =>
      if (c > nByGrp(l) / Sketches.FreqShare)
        assert(reported.contains((l, i)), s"heavy $l/$i (count $c) missing")
    }
    totals.foreach { case (i, c) =>
      if (c > nByGrp("TOTAL") / Sketches.FreqShare)
        assert(reported.contains(("TOTAL", i)), s"heavy TOTAL/$i (count $c) missing")
    }
  }

  test("freq sketch: union of partial sketches keeps the guarantees; image round-trips") {
    import graft.functions.expressions.{FreqFunctions, FreqOps}
    import FreqFunctions._
    val items = docs.select(
      explode(graft.operators.Dedup.wordShinglesAll($"text", 2)).as("item"))
    val truthMap = items.groupBy($"item").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truthMap.values.sum
    // per-partition sketches unioned == the distributed aggregation path
    val merged = items.repartition(16)
      .agg(freqSketchAgg($"item").as("sk"))
      .agg(freqUnionAgg($"sk").as("sk")) // degenerate union: exercises the agg
      .select($"sk").head.getAs[Array[Byte]]("sk")
    assert(FreqOps.streamWeight(merged) == n)
    val sk = FreqOps.deserialize(merged)
    assert(FreqOps.streamWeight(FreqOps.serialize(sk)) == n, "serde round-trip")
    // threshold at the true maximum: NO_FALSE_NEGATIVES guarantees the
    // top item itself is reported (ub >= true max >= threshold)
    val rows = FreqOps.topRows(merged, truthMap.values.max)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val item = r.getString(0)
      val t = truthMap(item)
      assert(r.getLong(2) <= t && t <= r.getLong(3),
        s"$item: [${r.getLong(2)}, ${r.getLong(3)}] vs true $t")
    }
  }

  // ------------------------------------------------------ KLL quantiles

  /** Exact normalized rank of `v` in the group: P(x <= v). */
  private def exactRank(values: Array[Double], v: Double): Double =
    values.count(_ <= v).toDouble / values.length

  test("kll rollup: per-group and unioned quantile estimates land within rank-error bounds") {
    import graft.operators.Sketches
    import graft.functions.expressions.KllOps
    val eps = 3 * KllOps.epsilon(KllOps.DefaultK) // ~5%: comfortable vs the 1.65% @99% bound
    val li = Tables.load(spark, sf("sf0.01"), "lineitem")
      .select($"l_returnflag".as("f"), $"l_extendedprice".cast("double").as("v"))
    val byFlag = li.collect().groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getDouble(1)) }
    val all = byFlag.values.flatten.toArray
    val out = Sketches.kllRollup(spark, sf("sf0.01")).collect()
    assert(out.map(_.getString(0)).toSeq.sorted ==
      (byFlag.keys.toSeq :+ "TOTAL").sorted)
    out.foreach { r =>
      val grp = r.getString(0)
      val values = if (grp == "TOTAL") all else byFlag(grp)
      // getN is exact and deterministic even though estimates are not
      assert(r.getLong(1) == values.length, s"$grp: n=${r.getLong(1)}")
      assert(math.abs(exactRank(values, r.getDouble(2)) - 0.50) < eps,
        s"$grp p50=${r.getDouble(2)} rank=${exactRank(values, r.getDouble(2))}")
      assert(math.abs(exactRank(values, r.getDouble(3)) - 0.95) < eps,
        s"$grp p95=${r.getDouble(3)} rank=${exactRank(values, r.getDouble(3))}")
    }
  }

  test("kll sketch is partition-tolerant and its binary image round-trips") {
    import graft.functions.expressions.{KllFunctions, KllOps}
    import KllFunctions._
    val eps = 3 * KllOps.epsilon(KllOps.DefaultK)
    val li = Tables.load(spark, sf("sf0.01"), "lineitem")
      .select($"l_extendedprice".cast("double").as("v"))
    val values = li.collect().map(_.getDouble(0))
    def sketchBytes(parts: Int): Array[Byte] = li.repartition(parts)
      .agg(kllSketchAgg($"v").as("sk")).head.getAs[Array[Byte]]("sk")
    // merging 32 partial sketches answers within the same bound as the
    // single-partition build — what makes the agg safe to distribute
    // and to pre-aggregate into daily sketch tables
    Seq(1, 32).foreach { p =>
      val bytes = sketchBytes(p)
      // driver-side heapify of the stored image == the sketch the agg built
      assert(KllOps.count(bytes) == values.length)
      val p50 = KllOps.quantile(bytes, 0.5).doubleValue()
      assert(math.abs(exactRank(values, p50) - 0.5) < eps,
        s"parts=$p p50=$p50 rank=${exactRank(values, p50)}")
    }
    // empty input: quantile is null, not a crash
    val empty = li.filter($"v" < 0).agg(kllSketchAgg($"v").as("sk"))
      .select(kllQuantile($"sk", lit(0.5)).as("q"), kllCount($"sk").as("n"))
      .head
    assert(empty.isNullAt(0) && empty.getLong(1) == 0L)
  }

  // ------------------------------------------------------------ TF-IDF

  test("tf-idf: hand-computed ranking on a tiny corpus") {
    // 4 docs; "rare" appears in 1 doc, "pair" in 2, "common" in all.
    val d = Seq(
      (1L, "common rare rare pair"),
      (2L, "common pair"),
      (3L, "common common"),
      (4L, "common")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopK(d, k = 2)
      .select($"doc_id", $"rank", $"term", $"tf", $"df")
      .as[(Long, Int, String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // doc 1: rare tf=2 df=1 score=2*ln(4)≈2.77 beats pair tf=1 df=2 ln(2)≈0.69
    assert(out.filter(_._1 == 1L).map(r => (r._2, r._3)).toSeq ==
      Seq((1, "rare"), (2, "pair")))
    // doc 3: only "common" (df=4, ln(1)=0 → score 0 still ranked, tf=2)
    assert(out.filter(_._1 == 3L).map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((1, "common", 2L)))
    // every doc's ranks are contiguous from 1 and bounded by k
    out.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length).toSeq && rs.length <= 2)
    }
  }

  test("tf-idf ranking is stable under repartitioning (decimal-rounded scores)") {
    val base = TextAnalysis.tfIdfTopK(docs, k = 5)
      .select($"doc_id", $"rank", $"term").collect().toSet
    val reparted = TextAnalysis.tfIdfTopK(docs.repartition(13), k = 5)
      .select($"doc_id", $"rank", $"term").collect().toSet
    assert(base == reparted)
  }

  test("x55: bloom-prefiltered decontamination is row-identical to the exact form") {
    // no false negatives (every true hit survives the prefilter) + exact
    // verify (every false positive dies in the semi-join) ⇒ the report
    // cannot differ, at any fpp. Checked at two scale factors and at a
    // deliberately LOUSY fpp to exercise the false-positive path.
    for (s <- Seq("sf0.001", "sf0.01")) {
      val exact = Dedup.decontaminateQuery(spark, s"/root/testdata/$s")
        .collect().toSeq
      val bloom = Dedup.decontaminateBloomQuery(spark, s"/root/testdata/$s")
        .collect().toSeq
      assert(exact == bloom, s"$s: bloom report drifted from the exact report")
    }
    val all = Tables.load(spark, sf("sf0.001"), "documents")
    val isRef = col("source").isin("src0", "src1")
    val exact = Dedup.decontaminate(all.filter(!isRef), all.filter(isRef))
      .orderBy($"doc_id").collect().toSeq
    val sloppy = Dedup.decontaminateBloom(all.filter(!isRef), all.filter(isRef),
        expectedItems = 64, fpp = 0.5) // undersized + half the probes "hit"
      .orderBy($"doc_id").collect().toSeq
    assert(exact == sloppy, "false positives leaked through the exact verify")
  }

  test("x63: OOV counts match a hand computation; vocabulary cut is the (cnt desc, term) order") {
    // corpus counts: a=4, b=3, c=2, d=1, e=1 → vocab(3) = {a, b, c}
    // (d and e tie at 1 but fall below the cut; cut ties break by term)
    val d = Seq((1L, "a a b c d"), (2L, "a b e"), (3L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.oovReport(d, vocabN = 3)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 5L, 1L), (2L, 3L, 1L), (3L, 3L, 0L)))
    // tie AT the cut: vocab(4) takes d (term order) over e
    val out4 = TextAnalysis.oovReport(d, vocabN = 4)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out4 == Seq((1L, 5L, 0L), (2L, 3L, 1L), (3L, 3L, 0L)))
    // empty doc: zero tokens, zero OOV, still reported
    val withEmpty = TextAnalysis.oovReport(
        d.unionByName(Seq((4L, "")).toDF("doc_id", "text")), vocabN = 3)
      .filter($"doc_id" === 4L).as[(Long, Long, Long)].collect().toSeq
    assert(withEmpty == Seq((4L, 0L, 0L)))
  }

  test("x64: SNM finds planted adjacent near-dups; window bounds the reach") {
    import graft.operators.Sampling
    // a near-dup differing only at the TAIL sorts adjacent to its
    // original under the normalize key — SNM's home case
    val base = docs.limit(40)
    val dups = base.limit(5).select(($"doc_id" + 100000).as("doc_id"),
      concat($"text", lit(" zzz")).as("text"))
    val corpus = base.select($"doc_id", $"text").unionByName(dups)
    val pairs = Dedup.sortedNeighborhoodPairs(corpus)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val planted = base.limit(5).select($"doc_id").as[Long].collect()
      .map(id => (id, id + 100000)).toSet
    assert(planted.subsetOf(pairs), s"missing planted dups: ${planted -- pairs}")
    // w bounds the reach: with w = 2 only rank-adjacent pairs can appear
    val ranked = Sampling.denseIds(
        corpus.select($"doc_id",
          graft.functions.expressions.NativeExpressions.normalizeText($"text").as("_sk")),
        Seq($"_sk", $"doc_id"), "_rk")
      .select($"doc_id", $"_rk").as[(Long, Long)].collect().toMap
    val w2 = Dedup.sortedNeighborhoodPairs(corpus, w = 2)
      .select($"d1", $"d2").as[(Long, Long)].collect()
    assert(w2.forall { case (a, b) => math.abs(ranked(a) - ranked(b)) == 1 },
      "w=2 emitted a non-adjacent pair")
  }

  /** The root paths of every file relation `df` reads, subqueries
    * included (the plan string truncates long paths). */
  private def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten
  }

  test("x55: persisted decontamination index round-trips and gates batches with zero rebuild") {
    val tmp = tempDir("decontam_idx").toString
    val all = Tables.load(spark, sf("sf0.001"), "documents")
    val isRef = col("source").isin("src0", "src1")
    Dedup.saveDecontamIndex(all.filter(isRef), tmp)
    val direct = Dedup.decontaminateQuery(spark, sf("sf0.001")).collect().toSeq
    val viaIndex = Dedup.decontaminateWithIndex(all.filter(!isRef), tmp)
      .orderBy($"doc_id").collect().toSeq
    assert(viaIndex == direct, "index-gated report drifted from the direct form")
    // and the per-batch plan touches the PARQUET index, never the
    // reference corpus's gram pipeline (no explode of reference text)
    val gated = Dedup.decontaminateWithIndex(all.filter(!isRef), tmp)
    val root = graft.core.DeltaIndex.current(spark, tmp)
    assert(Seq("grams", "bloom").forall(p => scanRoots(gated).contains(s"$root/$p")),
      s"expected the persisted index in the plan:\n${gated.queryExecution.executedPlan}")
  }

  test("x46/x52: persisted verified-pairs artifact round-trips; matrix from pairs equals inline") {
    val tmp = tempDir("vpairs").toString + "/pairs"
    val corpus = Tables.load(spark, sf("sf0.001"), "documents")
    Dedup.saveVerifiedPairs(corpus, tmp)
    val inlinePairs = Dedup.verifiedNearDupPairs(corpus)
      .select($"d1", $"d2", $"inter".cast("long"), $"uni".cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val loaded = Dedup.loadVerifiedPairs(spark, tmp)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(loaded == inlinePairs, "artifact round-trip drifted from the inline accept set")
    // x52 fed from the artifact == x52 recomputing the pipeline
    val inlineMatrix = Dedup.contaminationMatrix(corpus)
      .orderBy($"source_a", $"source_b")
      .as[(String, String, Long)].collect().toSeq
    val viaArtifact = Dedup
      .contaminationFromPairs(Dedup.loadVerifiedPairs(spark, tmp), corpus)
      .orderBy($"source_a", $"source_b")
      .as[(String, String, Long)].collect().toSeq
    assert(viaArtifact == inlineMatrix, "artifact-fed matrix drifted from the inline form")
    // and the artifact path's plan reads PARQUET, not the gram pipeline
    val plan = Dedup
      .contaminationFromPairs(Dedup.loadVerifiedPairs(spark, tmp), corpus)
      .queryExecution.executedPlan.toString
    assert(plan.contains(tmp), s"expected the persisted pairs in the plan:\n$plan")
    assert(!plan.toLowerCase.contains("shingle"),
      s"artifact path should never re-run the gram pipeline:\n$plan")
  }

  test("atomic index publish: a failed save leaves the previous artifact fully intact") {
    val base = tempDir("atomic_idx").toString + "/idx"
    val all = Tables.load(spark, sf("sf0.001"), "documents")
    val isRef = col("source").isin("src0", "src1")
    Dedup.saveDecontamIndex(all.filter(isRef), base)
    val before = Dedup.decontaminateWithIndex(all.filter(!isRef), base)
      .orderBy($"doc_id").collect().toSeq
    // a save that dies mid-write (here: corrupt reference frame fails the
    // gram job) must not touch the published index — no new-grams/stale-
    // bloom mix, which would silently re-admit contamination
    val poison = all.filter(isRef)
      .withColumn("text", udf((s: String) => {
        throw new RuntimeException("simulated executor failure"); s: String
      }).apply($"text"))
    intercept[Exception] { Dedup.saveDecontamIndex(poison, base) }
    val after = Dedup.decontaminateWithIndex(all.filter(!isRef), base)
      .orderBy($"doc_id").collect().toSeq
    assert(after == before, "failed save corrupted the published index")
    // and a subsequent good save still succeeds (staging dir was not leaked
    // in a state that blocks the next publish)
    Dedup.saveDecontamIndex(all.filter(isRef), base)
    val republished = Dedup.decontaminateWithIndex(all.filter(!isRef), base)
      .orderBy($"doc_id").collect().toSeq
    assert(republished == before)
  }

  test("x81: token entropy matches a hand computation; bounds hold on the corpus") {
    import graft.operators.TextAnalysis
    def lp(x: Double): BigDecimal =
      BigDecimal(math.log(x)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val d = Seq(
      (1L, "a a b"),   // n=3: H = (2·ln(3/2) + ln(3)) / 3, lns rounded
      (2L, "x"),       // single token: H = 0
      (3L, " "),       // zero tokens: null entropy
      (4L, "p q r"))   // all distinct: H = ln(3) rounded
      .toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(d).orderBy($"doc_id")
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    val h1 = ((lp(3.0 / 2.0) * 2 + lp(3.0)).toDouble / 3)
    assert(out == Seq(
      (1L, 3L, 2L, Some(h1)),
      (2L, 1L, 1L, Some(0.0)),
      (3L, 0L, 0L, None),
      (4L, 3L, 3L, Some(lp(3.0).toDouble))))
    // corpus-wide bounds: 0 <= H <= ln(n_tokens) (+ rounding slack)
    val all = TextAnalysis.tokenEntropyQuery(spark, sf("sf0.001"))
      .filter($"entropy".isNotNull)
      .as[(Long, Long, Long, Double)].collect()
    assert(all.nonEmpty)
    assert(all.forall { case (_, n, _, h) =>
      h >= -1e-6 && h <= math.log(n.toDouble) + 1e-6 })
  }

  test("x82: per-source KL drift matches a hand computation; single source is zero") {
    import graft.operators.TextAnalysis
    def lp(x: Double): BigDecimal =
      BigDecimal(math.log(x)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val d = Seq(
      (1L, "a a b", "s1"),  // s1: a=2, b=1, ns=3
      (2L, "a c", "s2"))    // s2: a=1, c=1, ns=2; corpus: N=5, C_a=3, C_b=C_c=1
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceKlDrift(d).orderBy($"source")
      .as[(String, Long, Long, Double)].collect().toSeq
    val kl1 = ((lp((2.0 / 3.0) * (5.0 / 3.0)) * 2 + lp((1.0 / 3.0) * (5.0 / 1.0))).toDouble / 3)
    val kl2 = ((lp((1.0 / 2.0) * (5.0 / 3.0)) + lp((1.0 / 2.0) * (5.0 / 1.0))).toDouble / 2)
    assert(out == Seq(("s1", 3L, 2L, kl1), ("s2", 2L, 2L, kl2)))
    // a lone source IS the corpus: every ln argument is 1, KL exactly 0
    val lone = TextAnalysis.sourceKlDrift(d.withColumn("source", lit("only")))
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(lone == Seq(("only", 5L, 3L, 0.0)))
    // corpus-wide: KL is non-negative everywhere
    val all = TextAnalysis.klDriftQuery(spark, sf("sf0.001"))
      .as[(String, Long, Long, Double)].collect()
    assert(all.nonEmpty && all.forall(_._4 >= -1e-6))
  }

  test("x65: data card matches a hand computation; TOTAL row from the same rollup") {
    val d = Seq(
      (1L, "a b c", "en", "s1"),
      (2L, "a b c", "en", "s1"), // exact duplicate of 1
      (3L, "x y", "de", "s1"),
      (4L, "p q r s", "en", "s2")).toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.dataCard(d).orderBy($"source")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("TOTAL", 4L, 12L, 2L, 3L, 2L, 4L, 1L),
      ("s1", 3L, 8L, 2L, 2L, 2L, 3L, 1L),
      ("s2", 1L, 4L, 1L, 1L, 4L, 4L, 0L)))
  }

  test("x67: LM doc score matches a hand computation (add-one, 6-decimal ln image)") {
    // corpus: bigrams doc1 (a,b); doc2 (a,b),(b,a); doc3 none
    // counts c(a,b)=2 c(b,a)=1; contexts c(a)=2 c(b)=1; vocab V=3 {a,b,z}
    // P(b|a) = (2+1)/(2+3) = 0.6; P(a|b) = (1+1)/(1+3) = 0.5
    val d = Seq((1L, "a b"), (2L, "a b a"), (3L, "z")).toDF("doc_id", "text")
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val e1 = r6(math.log(3.0 / 5)).toDouble
    val e2 = (r6(math.log(3.0 / 5)) + r6(math.log(2.0 / 4))).toDouble / 2
    val out = TextAnalysis.lmDocScore(d).orderBy($"doc_id")
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq((1L, 1L, Some(e1)), (2L, 2L, Some(e2)), (3L, 0L, None)))
  }

  test("x70: PMI matches a hand computation; rounded ties break on (w1, w2)") {
    // bigrams: "a b a b" -> (a,b),(b,a),(a,b); "a c" -> (a,c)
    // c12: ab=2 ba=1 ac=1; T=4; c1: a=3 b=1; c2: b=2 a=1 c=1
    // pmi(ab) = ln((2/3)*(4/2)) = ln(4/3); pmi(ba) = ln(4); pmi(ac) = ln((1/3)*4)
    val d = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = TextAnalysis.pmiCollocations(d, minCount = 1, topN = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    val pAb = r6(math.log((2.0 / 3) * (4.0 / 2)))
    val pAc = r6(math.log((1.0 / 3) * (4.0 / 1)))
    assert(out == Seq(
      ("b", "a", 1L, r6(math.log((1.0 / 1) * (4.0 / 1)))),
      ("a", "b", 2L, pAb), ("a", "c", 1L, pAc)))
  }

  test("x73: centroid outliers rank by cosine to the decimal-summed class centroid") {
    // label 0: two vectors near the x-axis + one on the y-axis (the
    // outlier); label 1: a singleton (cosine to itself's direction = 1)
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 0),
      (4L, Array(0.5f, 0.5f), 1)).toDF("vec_id", "embedding", "label")
    val dir = tempDir("x73-sf").toString
    emb.write.parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.Similarity.centroidOutlierQuery(spark, dir)
      .as[(Int, Long, Double, Int)].collect().toSeq
    // centroid(0) = decimal sums (1.9, 1.1); farthest by cosine is vec 3,
    // then 1, then 2; the singleton's cosine to its own direction is 1
    assert(out.map(r => (r._1, r._2, r._4)) ==
      Seq((0, 3L, 1), (0, 1L, 2), (0, 2L, 3), (1, 4L, 1)))
    val cos = out.map(r => (r._2, r._3)).toMap
    def c(v: Array[Double]): Double = {
      val cen = Array(1.9, 1.1)
      val dot = v(0) * cen(0) + v(1) * cen(1)
      dot / (math.sqrt(v(0) * v(0) + v(1) * v(1)) * math.sqrt(cen(0) * cen(0) + cen(1) * cen(1)))
    }
    assert(math.abs(cos(3L) - BigDecimal(c(Array(0.0, 1.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(cos(4L) == 1.0)
    // on the real table (exact values are the DuckDB oracle's job; here:
    // the outlier cut is non-degenerate)
    val real = graft.operators.Similarity.centroidOutlierQuery(spark, sf("sf0.001"))
      .as[(Int, Long, Double, Int)].collect()
    assert(real.nonEmpty && real.forall(_._3 < 1.0))
  }

  test("x76: prefix-filtered join is LOSSLESS vs brute force, incl. planted dups") {
    // brute force: every shared-gram pair, exact Jaccard — the complete
    // ground truth the prefix filter must reproduce
    def brute(corpus: org.apache.spark.sql.DataFrame) = {
      val g = corpus.select($"doc_id",
        explode(Dedup.wordShingles($"text", 3)).as("gram"))
      val a = g.select($"gram", $"doc_id".as("d1"))
      val b = g.select($"gram", $"doc_id".as("d2"))
      val vint = a.join(b, Seq("gram")).filter($"d1" < $"d2")
        .groupBy($"d1", $"d2").agg(count(lit(1)).as("inter"))
      val gsz = g.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      vint.join(gsz.select($"doc_id".as("d1"), $"n".as("n1")), "d1")
        .join(gsz.select($"doc_id".as("d2"), $"n".as("n2")), "d2")
        .filter($"inter" * 2 >= $"n1" + $"n2" - $"inter")
        .select($"d1", $"d2", $"inter", ($"n1" + $"n2" - $"inter").as("uni"))
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    val base = docs.limit(60).select($"doc_id", $"text")
    val dups = base.limit(6).select(($"doc_id" + 100000).as("doc_id"),
      concat($"text", lit(" zz")).as("text"))
    val corpus = base.unionByName(dups)
    val got = Dedup.ppJoinPairs(corpus)
      .select($"d1", $"d2", $"inter".cast("long"), $"uni".cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val expected = brute(corpus)
    assert(got == expected,
      s"missing: ${(expected -- got).take(3)}; extra: ${(got -- expected).take(3)}")
    // planted near-identical pairs are in the accept set (non-vacuous)
    val planted = base.limit(6).select($"doc_id").as[Long].collect()
      .map(id => (id, id + 100000)).toSet
    assert(planted.subsetOf(got.map(p => (p._1, p._2))),
      s"missing planted: ${planted -- got.map(p => (p._1, p._2))}")
    // and the candidate side never degenerates to a cross product
    val plan = Dedup.ppJoinPairs(corpus).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix join degenerated:\n$plan")
  }

  test("x55: the bloom probe is in the executed plan (prefilter not optimized away)") {
    val plan = Dedup.decontaminateBloomQuery(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "expected a might_contain bloom probe ahead of the exact semi-join")
  }

  test("x57: bigram LM counts and KN continuation stats match a hand computation") {
    val d = Seq((1L, "a b a b c"), (2L, "b c")).toDF("doc_id", "text")
    // bigrams: doc1 (a,b) (b,a) (a,b) (b,c); doc2 (b,c)
    // counts: (a,b)=2 (b,c)=2 (b,a)=1
    // n_right: a -> {b} = 1, b -> {a, c} = 2
    // n_left:  b -> {a} = 1, c -> {b} = 1, a -> {b} = 1
    val out = TextAnalysis.ngramLm(d, topN = 10)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("a", "b", 2L, 1L, 1L),
      ("b", "c", 2L, 2L, 1L),
      ("b", "a", 1L, 2L, 1L)))
    // the top-N cut respects the same (cnt desc, w1, w2) total order
    val top2 = TextAnalysis.ngramLm(d, topN = 2)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(top2 == out.take(2))
  }

  test("x78: k-means separates planted blobs and partitions the corpus") {
    import graft.operators.Similarity
    // two well-separated blobs on axes 0 and 1; ids interleave so the
    // k=2 init (vec_id 0, 1) lands one seed in each blob
    val vecs = (0L until 40L).map { i =>
      val v = new Array[Float](8)
      v((i % 2).toInt) = 1f
      v(((i % 3) + 2).toInt) = 0.1f * ((i % 5) + 1) // within-blob jitter
      (i, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.kmeans(df, k = 2, iters = 2).collect()
    // a partition of the input: every vector exactly once, k clusters
    assert(out.map(_.getLong(0)).toSeq == (0L until 40L))
    val byCluster = out.groupBy(_.getLong(1))
    assert(byCluster.keySet == Set(0L, 1L))
    // purity 1.0: each blob (even/odd ids) maps to one cluster
    for ((_, members) <- byCluster)
      assert(members.map(_.getLong(0) % 2).distinct.length == 1,
        s"mixed blob in a cluster: ${members.map(_.getLong(0)).toSeq}")
    // determinism under physical layout: repartitioned input, same rows
    val out2 = Similarity.kmeans(df.repartition(7), k = 2, iters = 2).collect()
    assert(out.map(_.toString).toSeq == out2.map(_.toString).toSeq)
  }

  test("x79: funnel matches a hand computation, one doc per stage") {
    import graft.operators.TextAnalysis
    val short = "a b c"                                // stage 1: 3 tokens
    val mono = Seq.fill(50)("spark").mkString(" ")     // stage 2: u=1
    val gram = ((1 to 40).map(i => f"t$i%02d") ++
      Seq.fill(5)(Seq("x", "y")).flatten).mkString(" ") // stage 3: "x y" x5
    val longw = (1 to 40).map(i => f"abcdef$i%02d").mkString(" ") // stage 4: len 8
    val keep = ((1 to 22).map(i => f"ab$i%02d") ++
      (1 to 23).map(i => f"abc$i%02d")).mkString(" ")  // mean len 4.51, all uniq
    val docs = Seq((1L, short), (2L, mono), (3L, gram), (4L, longw), (5L, keep))
      .toDF("doc_id", "text")
    val got = TextAnalysis.qualityFunnel(docs)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "too_short", 5L, 1L, 4L),
      (2L, "low_diversity", 4L, 1L, 3L),
      (3L, "repetitive_2gram", 3L, 1L, 2L),
      (4L, "word_length", 2L, 1L, 1L)))
  }

  test("x77: zone map conserves totals and is TIGHT on both dimensions") {
    import graft.operators.Layout
    val ev = Tables.load(spark, sf("sf0.01"), "events")
      .filter($"user_id".isNotNull && $"value".isNotNull)
    val zm = Layout.zonemapQuery(spark, sf("sf0.01")).collect()
    // conservation: every row lands in exactly one zone
    assert(zm.map(_.getLong(1)).sum == ev.count())
    assert(zm.length <= 64 && zm.length > 8, s"degenerate zoning: ${zm.length}")
    // the data-skipping contract: a point predicate on EITHER dimension
    // overlaps only a small fraction of zone rectangles. A 1-D range
    // layout can be tight on its sort key but every zone spans the full
    // domain of the other column; the Z-curve bounds both.
    val (loU, hiU) = (zm.map(_.getLong(2)).min, zm.map(_.getLong(3)).max)
    val (loV, hiV) = (zm.map(_.getDouble(4)).min, zm.map(_.getDouble(5)).max)
    val midU = (loU + hiU) / 2
    val midV = (loV + hiV) / 2
    val hitU = zm.count(r => r.getLong(2) <= midU && midU <= r.getLong(3))
    val hitV = zm.count(r => r.getDouble(4) <= midV && midV <= r.getDouble(5))
    info(s"zones=${zm.length}, mid-point hits: user_id=$hitU value=$hitV")
    assert(hitU <= zm.length / 2, s"user_id rectangles not tight: $hitU/${zm.length}")
    assert(hitV <= zm.length / 2, s"value rectangles not tight: $hitV/${zm.length}")
  }

  test("x109 bpe pairs: occurrence-weighted adjacent pairs, single-char words skipped") {
    val d = Seq((1L, "ab ab cd x"), (2L, "abc")).toDF("doc_id", "text")
    val out = TextAnalysis.bpePairs(d)
      .as[(String, Long)].collect().toSeq
    // 'ab' x2 (two word occurrences) + 1 from 'abc'; 'bc' from 'abc';
    // 'cd' once; the 1-char word 'x' contributes nothing
    assert(out == Seq(("ab", 3L), ("bc", 1L), ("cd", 1L)), s"got $out")
  }

  test("x110 pack audit: power-of-two capacities with exact padding accounting") {
    val d = Seq((1L, "t"), (2L, "t t"), (3L, "t t t"), (4L, "t t t t t"))
      .toDF("doc_id", "text")
    val out = graft.operators.Sampling.packAudit(d)
      .orderBy($"capacity")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 1L, 1L, 0L, 1.0),   // n=1 pins to capacity 1, not 2
      (2L, 1L, 2L, 2L, 0L, 1.0),
      (4L, 1L, 3L, 4L, 1L, 0.75),
      (8L, 1L, 5L, 8L, 3L, 0.625)), s"got $out")
  }

  test("x111 decayed popularity: hand-computed half-life weights") {
    // ref day = max day = 2024-01-15; ages 0 / 7 / 14 days at halflife 7
    // -> weights 1.0, 0.5, 0.25
    val ev = Seq(
      (1L, "2024-01-15 10:00:00", "click"),
      (2L, "2024-01-08 09:00:00", "click"),
      (3L, "2024-01-01 08:00:00", "view"))
      .toDF("event_id", "s", "event_type")
      .select($"event_id", to_timestamp($"s").as("ts"), $"event_type")
    val out = graft.operators.Analytics.decayPopularity(ev)
      .orderBy($"event_type")
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(("click", 2L, 1.5), ("view", 1L, 0.25)), s"got $out")
  }

  test("x112 zipf slope: a perfect 1/rank source fits slope -1") {
    // counts 6,3,2 over ranks 1,2,3 are exactly c = 6/r, so
    // ln c = ln 6 - ln r: OLS slope -1 (up to the 6-decimal ln pins)
    val d = Seq((1L, "a a a a a a b b b c c")).toDF("doc_id", "text")
      .withColumn("source", lit("s0"))
    val out = TextAnalysis.zipfSlope(d)
      .as[(String, Long, Double)].collect().toSeq
    assert(out.size == 1 && out.head._1 == "s0" && out.head._2 == 3L, s"got $out")
    assert(math.abs(out.head._3 + 1.0) < 1e-4, s"slope ${out.head._3} != -1")
  }

  test("x113 truncation loss: exact token accounting at the budget") {
    val d = Seq((1L, "t t t"), (2L, "t t t t t t")).toDF("doc_id", "text")
      .withColumn("source", lit("s0"))
    val out = graft.operators.DocPrep.truncationLoss(d, maxTokens = 4L)
      .as[(String, Long, Long, Long, Long, Long, Double)].collect().toSeq
    // doc2 (6 tokens) truncates to 4: total 9, kept 7, dropped 2
    assert(out == Seq(("s0", 2L, 1L, 9L, 7L, 2L, 0.222222)), s"got $out")
  }

  test("x114 link graph: canonicalization collapses host variants into one edge") {
    val d = Seq((1L,
      "<a href=\"HTTPS://WWW.a.com/x\">1</a>" +
        "<a href=\"https://a.com/y?utm_source=z\">2</a>" +
        "<a href=\"https://b.com:8080/q#f\">3</a>"))
      .toDF("doc_id", "html")
    val out = graft.operators.WebPrep
      .linkGraph(d, lit("s.com"), $"html")
      .orderBy($"dst_host")
      .as[(String, String, Long)].collect().toSeq
    // www/scheme-case/utm noise all map to host a.com; the port drops
    assert(out == Seq(("s.com", "a.com", 2L), ("s.com", "b.com", 1L)), s"got $out")
  }

  test("x115 split balance: marginals conserve and cells recompute exactly") {
    val out = graft.operators.Sampling
      .splitBalance(Tables.load(spark, sf("sf0.001"), "documents"))
      .as[(String, String, Long, Double, Double)].collect().toSeq
    val total = out.map(_._3).sum
    assert(total == docs.count(), s"cells lost docs: $total")
    val bySplit = out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val byLang = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    out.foreach { case (sp, lg, n, expd, chi2) =>
      val e = bySplit(sp).toDouble * byLang(lg).toDouble / total.toDouble
      val rexp = BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val c = (n.toDouble - e) * (n.toDouble - e) / e
      val rc = BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(expd == rexp, s"($sp,$lg) expected $expd != $rexp")
      assert(chi2 == rc, s"($sp,$lg) chi2 $chi2 != $rc")
      assert(chi2 >= 0.0)
    }
  }

  test("x116 anchor text: terms pool across docs onto the canonical destination host") {
    val d = Seq(
      (1L, "<a href=\"HTTPS://WWW.a.com/x\">best widgets</a>"),
      (2L, "<a href=\"https://a.com/y?utm_source=z\">cheap widgets</a>" +
        "<a href=\"https://b.com/q\">other stuff</a>"))
      .toDF("doc_id", "html")
    val out = graft.operators.WebPrep.anchorText(d, $"html")
      .orderBy($"dst_host", $"term")
      .as[(String, String, Long)].collect().toSeq
    assert(out == Seq(
      ("a.com", "best", 1L), ("a.com", "cheap", 1L), ("a.com", "widgets", 2L),
      ("b.com", "other", 1L), ("b.com", "stuff", 1L)), s"got $out")
  }

  test("x117 conversion lag: first-touch pairing, reverse-order users excluded") {
    val ev = Seq(
      (1L, "view", "2024-01-01 10:00:00"), (1L, "purchase", "2024-01-01 10:00:30"),
      (1L, "view", "2024-01-01 09:00:00"),     // earlier first view wins
      (2L, "purchase", "2024-01-01 08:00:00"), // purchased BEFORE ever viewing
      (2L, "view", "2024-01-01 09:00:00"),
      (3L, "view", "2024-01-01 10:00:00"))     // never converted
      .toDF("user_id", "event_type", "s")
      .select($"user_id", $"event_type", to_timestamp($"s").as("ts"))
    val out = graft.operators.Analytics.conversionLag(ev)
      .select($"user_id", $"lag_sec").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3630L)), s"got $out")
  }

  test("x118 vocab coverage: exact integer cut at the 90% token mass") {
    // counts a:6 b:3 c:1 -> cum 6,9,10 of 10; 90% reached at rank 2
    val d = Seq((1L, "a a a a a a b b b c")).toDF("doc_id", "text")
      .withColumn("source", lit("s0"))
    val out = TextAnalysis.vocabCoverage(d)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("s0", 3L, 10L, 2L, 9L, 0.9)), s"got $out")
  }

  test("x119 host reputation: a host's pass share gates every doc on it") {
    val long = ("w " * 45).trim
    val short = "too short"
    val d = Seq(
      (1L, "a", long), (2L, "a", short),   // host a: 1/2 pass -> admitted
      (3L, "b", short), (4L, "b", short))  // host b: 0/2 pass -> rejected
      .toDF("doc_id", "source", "text")
    val out = graft.operators.WebPrep
      .hostReputation(d, concat($"source", lit(".example.com")))
      .orderBy($"doc_id")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a.example.com", 2L, 1L, 1L), (2L, "a.example.com", 2L, 1L, 1L),
      (3L, "b.example.com", 2L, 0L, 0L), (4L, "b.example.com", 2L, 0L, 0L)),
      s"got $out")
  }

  test("x120 hard negatives: nearest same-label positive, nearest cross-label negative, singleton label keeps null positive") {
    val vecs = Seq(
      (0L, 0, Seq(1f, 0f)), (1L, 0, Seq(0.9f, 0.1f)),
      (2L, 1, Seq(0f, 1f)), (3L, 1, Seq(0.1f, 0.9f)),
      (4L, 2, Seq(1f, 0.01f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegatives(vecs)
      .orderBy($"vec_id")
      .as[(Long, Option[Long], Option[Long])].collect().toSeq
    assert(out == Seq(
      (0L, Some(1L), Some(4L)),  // 4 is nearly parallel to 0 but other-label
      (1L, Some(0L), Some(4L)),
      (2L, Some(3L), Some(1L)),  // cross-label best for (0,1): cos with 1 beats 0 and 4
      (3L, Some(2L), Some(1L)),
      (4L, None, Some(0L))), s"got $out")
  }

  test("x121 fertility: lexer token and char accounting") {
    val d = Seq((1L, "ab cd, 12")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val out = TextAnalysis.fertility(d)
      .as[(String, Long, Long, Long, Long, Double, Double)].collect().toSeq
    // words: [ab][cd,][12] = 3; bpe: [ab][cd][,][12] = 4; chars = 9
    assert(out == Seq(("en", 1L, 3L, 4L, 9L, 1.333333, 2.25)), s"got $out")
  }

  test("x122 co-occurrence lift: hand-computed supports, duplicates collapse") {
    // users: 1 {a,b} (b twice — distinct set semantics), 2 {a,b}, 3 {a}, 4 {c}
    // N=4; n_a=3, n_b=2, n_ab=2 -> lift(a,b) = 4*2/(3*2) = 1.333333
    // n_c=1, n_ac=0 -> (a,c) pair absent (no co-occurrence row)
    val ev = Seq((1L, "a"), (1L, "b"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "a"), (4L, "c"))
      .toDF("user_id", "event_type")
    val out = graft.operators.Analytics.cooccurrenceLift(ev)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("a", "b", 3L, 2L, 2L, 1.333333)), s"got $out")
  }

  test("x123 link degrees: reciprocity excludes self-loops, sinks and sources both survive") {
    val edges = Seq(
      ("a", "b", 3L), ("b", "a", 1L),  // reciprocal pair
      ("a", "c", 2L),                  // c is a pure sink
      ("d", "d", 5L),                  // self-loop: volume counts, recip does not
      ("d", "a", 1L))
      .toDF("src_host", "dst_host", "n_links")
    val out = graft.operators.WebPrep.linkDegrees(edges)
      .orderBy($"host")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("a", 2L, 5L, 2L, 2L, 1L),   // out: b,c; in: b,d; recip: only b
      ("b", 1L, 1L, 1L, 3L, 1L),
      ("c", 0L, 0L, 1L, 2L, 0L),
      ("d", 2L, 6L, 1L, 5L, 0L)),  // self-loop in volumes, not reciprocity
      s"got $out")
  }

  test("x124 robots gate: host match + path prefix, longest rule wins, unlisted hosts pass") {
    val rules = Seq(("a.com", "/"), ("a.com", "/p/1"), ("b.com", "/private"))
      .toDF("host", "path_prefix")
    val d = Seq(
      (1L, "https://a.com/p/1x"),   // matches '/' AND '/p/1' -> longest
      (2L, "https://a.com/q"),      // matches only '/'
      (3L, "https://b.com/public"), // rule host matches, prefix does not
      (4L, "https://c.com/p/1"))    // unlisted host
      .toDF("doc_id", "url")
    val out = graft.operators.WebPrep.robotsGate(d, rules)
      .orderBy($"doc_id")
      .as[(Long, String, String, Option[String], Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a.com/p/1x", "a.com", Some("/p/1"), 0L),
      (2L, "a.com/q", "a.com", Some("/"), 0L),
      (3L, "b.com/public", "b.com", None, 1L),
      (4L, "c.com/p/1", "c.com", None, 1L)), s"got $out")
  }

  test("x119 streaming host-reputation gate equals batch on replay; unseen hosts pass") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val d = Tables.load(spark, sf("sf0.001"), "documents")
    val hostCol = concat($"source", lit(".example.com"))
    // minTokens=60 (not the default 40): at sf0.001 every host passes
    // the default gate, which would make the equality vacuous
    val batch = graft.operators.WebPrep.hostReputation(d, hostCol, minTokens = 60L)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(batch.values.map(_._5).toSet == Set(0L, 1L),
      s"vacuous fixture: gate never splits")
    // the frozen reputation = the same reference crawl's host aggregate
    val rep = graft.operators.WebPrep.hostReputation(d, hostCol, minTokens = 60L)
      .select($"host", $"host_docs", $"host_pass").distinct()
    val rows = d.select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect().toSeq
    val stream = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingOps.hostRepGateStream(
        stream.toDF().toDF("doc_id", "source", "text"), rep,
        concat($"source", lit(".example.com")))
      .writeStream.outputMode("append")
      .format("memory").queryName("hostrep_out").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("hostrep_out")
        .as[(Long, String, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      assert(streamed == batch,
        s"drift: ${batch.collect { case (k, v) if streamed.get(k) != Some(v) => (k, v, streamed.get(k)) }.take(5)}")
      // the unseen-host contract: a doc from a host absent in the
      // frozen reputation passes with null reputation fields
      stream.addData(Seq((999999L, "brandnew", "hello fresh host")))
      q.processAllAvailable()
      val fresh = spark.table("hostrep_out")
        .filter($"doc_id" === 999999L)
        .select($"admitted", $"host_docs".isNull, $"host_pass".isNull)
        .as[(Long, Boolean, Boolean)].collect().toSeq
      assert(fresh == Seq((1L, true, true)), s"got $fresh")
    } finally q.stop()
  }

  test("x125 dialog audit: alternation breaks counted in (ts, event_id) order") {
    val ev = Seq(
      (1L, 1L, "a", "2024-01-01 10:00:00"),
      (2L, 1L, "b", "2024-01-01 10:00:10"),
      (3L, 1L, "b", "2024-01-01 10:00:20"),  // break: b after b
      (4L, 1L, "a", "2024-01-01 10:01:00"),
      (5L, 2L, "a", "2024-01-01 11:00:00"))  // singleton thread
      .toDF("event_id", "user_id", "event_type", "s")
      .select($"event_id", $"user_id", $"event_type",
        to_timestamp($"s").as("ts"))
    val out = graft.operators.Analytics.dialogAudit(ev)
      .orderBy($"thread_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 4L, 2L, 1L, 60L), (2L, 1L, 1L, 0L, 0L)),
      s"got $out")
  }

  test("x126 rate bursts: a 20x hour flags, quiet hours do not") {
    // 7 quiet hours (1 event) + one 20-event hour: z = 2.4748 >= 2
    val rows = (0 until 7).map(h => (h.toLong, s"2024-01-01 0$h:30:00")) ++
      (0 until 20).map(i => (100L + i, "2024-01-01 07:15:00"))
    val ev = rows.toDF("event_id", "s")
      .select($"event_id", to_timestamp($"s").as("ts"),
        lit("click").as("event_type"))
    val out = graft.operators.Analytics.rateBursts(ev)
      .select($"hour_sec", $"burst").as[(Long, Long)].collect().toMap
    assert(out.size == 8 && out.values.sum == 1L, s"got $out")
    val burstHour = out.collectFirst { case (h, 1L) => h }.get
    assert(burstHour == java.time.Instant.parse("2024-01-01T07:00:00Z")
      .getEpochSecond, s"wrong hour flagged: $burstHour")
  }

  test("x127 ks audit: disjoint length distributions give ks 1, length-blind splits stay low") {
    import graft.operators.Sampling
    // find which split the REAL hash sends each candidate id to, then
    // plant train docs at 5 tokens and val docs at 50 -> ECDFs are
    // fully separated -> D = 1 exactly
    val assign = (0L until 500L).toDF("doc_id")
      .select($"doc_id",
        Sampling.assignSplit($"doc_id", "graft", Seq(
          "train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .as[(Long, String)].collect()
    val planted = assign.collect {
      case (id, "train") => (id, "s0", ("w " * 5).trim)
      case (id, "val")   => (id, "s0", ("w " * 50).trim)
    }.toSeq.toDF("doc_id", "source", "text")
    val out = Sampling.ksSplitAudit(planted)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out.length == 1 && out.head._4 == 1.0, s"got $out")
    assert(out.head._2 > 0 && out.head._3 > 0, s"vacuous split: $out")
    // the real corpus: only bounds — at sf0.001 val has 1-5 docs per
    // source, so the small-sample KS is legitimately large (src11's
    // single val doc gives D=1.0); the statistic itself is what's
    // under test, not the corpus
    val real = Sampling
      .ksSplitAudit(Tables.load(spark, sf("sf0.001"), "documents"))
      .as[(String, Long, Long, Double)].collect()
    assert(real.length == 20 && real.forall(r => r._4 >= 0.0 && r._4 <= 1.0),
      s"ks out of range: ${real.maxBy(_._4)}")
  }

  test("x128 psi drift: hand-computed two-bucket case; real corpus in range") {
    import graft.operators.Sampling
    // train docs at 5 tokens (bucket 8), val docs at 50 (bucket 64):
    // fully separated buckets, psi recomputed here with the op's exact
    // arithmetic (round-6 ln, round-6 term, HALF_UP)
    val assign = (0L until 500L).toDF("doc_id")
      .select($"doc_id",
        Sampling.assignSplit($"doc_id", "graft", Seq(
          "train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .as[(Long, String)].collect()
    val planted = assign.collect {
      case (id, "train") => (id, "s0", ("w " * 5).trim)
      case (id, "val")   => (id, "s0", ("w " * 50).trim)
    }.toSeq.toDF("doc_id", "source", "text")
    val t = assign.count(_._2 == "train").toLong
    val v = assign.count(_._2 == "val").toLong
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def term(c1: Long, c2: Long): Double = {
      val p = (c1 + 1).toDouble / (t + 2).toDouble
      val q = (c2 + 1).toDouble / (v + 2).toDouble
      r6((p - q) * r6(math.log(p / q)))
    }
    val expectedPsi = BigDecimal(term(t, 0L)) + BigDecimal(term(0L, v))
    val out = Sampling.psiSplitAudit(planted)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("s0", t, v, 2L, expectedPsi.toDouble)), s"got $out")
    // real corpus: PSI is finite and >= 0 up to term rounding (val has
    // 1-5 docs per source at sf0.001, so magnitudes are legitimately
    // large — bounds only)
    val real = Sampling
      .psiSplitAudit(Tables.load(spark, sf("sf0.001"), "documents"))
      .as[(String, Long, Long, Long, Double)].collect()
    assert(real.length == 20 && real.forall(r => r._5 > -1e-4 && !r._5.isNaN),
      s"bad psi: ${real.minBy(_._5)}")
  }

  test("x129 resize: nearest-neighbor pixels equal the independent source-index recomputation") {
    import graft.functions.Multimodal
    val png = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Fixtures.tinyPng))
    val assets = spark.createDataset(Seq(
      Multimodal.MediaAsset(1L, "image", png, Map.empty),
      Multimodal.MediaAsset(2L, "audio", Array[Byte](1, 2, 3), Map.empty)))
    val out = Multimodal.resize(assets, 3, 2).collect().sortBy(_.asset_id)
    // independent recomputation: decode the fixture HERE and apply the
    // NN index mapping sx = floor(x*w/ow), sy = floor(y*h/oh) directly
    val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val resized = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(0).png))
    assert(out(0).real && resized.getWidth == 3 && resized.getHeight == 2)
    for (y <- 0 until 2; x <- 0 until 3) {
      val (sx, sy) = (x * src.getWidth / 3, y * src.getHeight / 2)
      assert(resized.getRGB(x, y) == src.getRGB(sx, sy),
        s"pixel ($x,$y) != source ($sx,$sy)")
    }
    // the emitted hash is the hash OF THAT RASTER (the spec-pinnable
    // image of the pixels, PNG encoding kept out of the contract)
    assert(out(0).px_hash == Multimodal.pixelHash(
      Multimodal.resizeNearest(src, 3, 2)))
    // undecodable payload keeps its row: stub hash, empty bytes
    assert(!out(1).real && out(1).png.isEmpty &&
      out(1).px_hash == Multimodal.payloadHash(Array[Byte](1, 2, 3)))
  }

  test("x130 snapshot psi: identical snapshots read zero, a shifted one reads positive") {
    import graft.operators.Sampling
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"source", $"text")
    // identical snapshots: every bucket has c1 = c2 and n1 = n2, so
    // every smoothed term is exactly 0 -> psi 0 on every source
    val same = Sampling.snapshotPsi(docs, docs)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(same.length == 20 && same.forall(_._5 == 0.0),
      s"identical snapshots drifted: ${same.maxBy(_._5)}")
    // a new snapshot with every text halved shifts the whole length
    // distribution down one-plus buckets -> strictly positive psi
    val toks = graft.operators.TextAnalysis.wsTokens($"text")
    val halved = docs.withColumn("text",
      array_join(slice(toks, lit(1), greatest(size(toks) / 2, lit(1))), " "))
    val moved = Sampling.snapshotPsi(docs, halved)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(moved.forall(_._5 > 0.05), s"shift not detected: ${moved.minBy(_._5)}")
  }

  test("x131 skew profile: a planted hot key dominates the ratio") {
    import graft.operators.SkewTools
    // 99 singleton keys + one key with 100 rows: max_c=100, n_keys=100,
    // n_rows=199 -> skew = 100*100/199 = 50.251256
    val rows = (1L to 99L).map(k => (k, "x")) ++ (0 until 100).map(_ => (1000L, "x"))
    val df = rows.toDF("k", "pad")
    val out = SkewTools.keySkewProfile(df, "k", "t.k")
      .as[(String, Long, Long, Long, Double, Double, Double)].collect().head
    assert(out._1 == "t.k" && out._2 == 100L && out._3 == 199L && out._4 == 100L,
      s"got $out")
    assert(out._7 == BigDecimal(100.0 * 100.0 / 199.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"skew ${out._7}")
    assert(out._5 == 1.0, s"p50 ${out._5}") // median of 99x1 and 1x100
  }

  test("x132 exact split: every source lands exactly floor-threshold counts") {
    import graft.operators.Sampling
    val out = Sampling.exactSplit(Tables.load(spark, sf("sf0.001"), "documents"))
      .groupBy($"source", $"split").count()
      .as[(String, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    // 25 docs per source at sf0.001: train floor(25*8/10)=20,
    // val floor(25*9/10)-20=2, test 3 — EXACT on every source (the
    // guarantee x19's hash ranges cannot give)
    out.foreach { case (src, m) =>
      assert(m == Map("train" -> 20L, "val" -> 2L, "test" -> 3L),
        s"$src split counts: $m")
    }
  }

  test("x133 dup histogram: planted families land at their sizes, mass conserves") {
    // 3 singletons, one pair, one triple -> sizes {1:3, 2:1, 3:1}
    val d = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "dup1"), (5L, "dup1"),
      (6L, "dup2"), (7L, "dup2"), (8L, "dup2")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dupSizeHistogram(d)
      .orderBy($"group_size")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L, 3L, 0L), (2L, 1L, 2L, 1L), (3L, 1L, 3L, 2L)),
      s"got $out")
    assert(out.map(_._3).sum == 8L, "doc mass not conserved")
  }

  test("x134 spearman: perfectly aligned ranks read 1, reversed read -1") {
    import graft.operators.Analytics
    // aligned: longer docs carry more punctuation (ranks identical)
    val aligned = Seq(
      (1L, "a", "w."), (2L, "a", "w w.,"), (3L, "a", "w w w.,;"),
      // reversed: the longest doc has the least punctuation
      (4L, "b", "w.,;"), (5L, "b", "w w.,"), (6L, "b", "w w w."))
      .toDF("doc_id", "source", "text")
    val out = Analytics.spearman(aligned)
      .orderBy($"source")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(out == Seq(("a", 3L, 0.0, 1.0), ("b", 3L, 8.0, -1.0)), s"got $out")
  }

  test("x135 split diversity: uniform mixture reads ln(k), single-source reads 0") {
    import graft.operators.Sampling
    val out = Sampling.splitDiversity(
        Tables.load(spark, sf("sf0.001"), "documents"))
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set("train", "val", "test"))
    // entropy bounded by ln(n_sources); the 20-source corpus is near
    // uniform so train (400 docs) sits close to the ceiling
    out.values.foreach { case (sp, n, k, h) =>
      assert(h >= 0.0 && h <= math.log(k.toDouble) + 1e-4, s"$sp: H=$h of ln($k)")
    }
    assert(out("train")._4 > 0.9 * math.log(out("train")._3.toDouble),
      s"train mixture unexpectedly skewed: ${out("train")}")
  }

  test("x129 resize property: arbitrary (w,h)->(ow,oh) stays in bounds; identical size is identity") {
    import graft.functions.Multimodal
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // deterministic seeded sampling (PropertySpec's offline-classpath
    // discipline — no scalatest-scalacheck bridge available)
    def mkImg(w: Int, h: Int, salt: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (x * 2654435761L + y * 40503L + salt).toInt)
      img
    }
    val gen = for {
      w <- Gen.choose(1, 40); h <- Gen.choose(1, 40)
      ow <- Gen.choose(1, 40); oh <- Gen.choose(1, 40)
    } yield (w, h, ow, oh)
    (1 to 40).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach {
        case (w, h, ow, oh) =>
          val src = mkImg(w, h, i)
          // bounds: every (ow, oh) — up- AND down-scale, extreme aspect
          // ratios — must index inside the source (a wrong rounding
          // direction throws ArrayIndexOutOfBounds in getRGB)
          val out = Multimodal.resizeNearest(src, ow, oh)
          assert(out.getWidth == ow && out.getHeight == oh)
          // spot the corner pixels against the index contract
          assert(out.getRGB(0, 0) == src.getRGB(0, 0))
          assert(out.getRGB(ow - 1, oh - 1) == src.getRGB(
            ((ow - 1).toLong * w / ow).toInt, ((oh - 1).toLong * h / oh).toInt))
          // identity: resizing to the identical size is pixel-exact
          val same = Multimodal.resizeNearest(src, w, h)
          assert(Multimodal.pixelHash(same) == Multimodal.pixelHash(src),
            s"identity resize changed pixels at ${(w, h)}")
      }
    }
  }

  test("x137 hybrid RRF: both-leg doc outranks single-leg docs; terms match hand RRF") {
    import graft.operators.TextSearch
    val docs = Seq(
      (0L, "a b c d e f"),   // the query doc
      (10L, "a b c d e f"),  // lexical echo AND vector runner-up -> both legs
      (11L, "a b c d zz qq"),// partial lexical overlap, worst vector
      (12L, "zz qq ww ee"))  // no shared grams, best vector
      .toDF("doc_id", "text")
    val vecs = Seq(
      (0L, Array(1f, 0f)), (10L, Array(0.9f, 0.1f)),
      (11L, Array(0f, 1f)), (12L, Array(1f, 0.01f)))
      .toDF("vec_id", "embedding")
    val out = TextSearch.hybridTopK(docs, vecs, queryMax = 1L)
      .orderBy($"rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def rrf(rs: Int*) = (BigDecimal(0) /: rs.map(r => BigDecimal(r6(1.0 / (60 + r)))))(_ + _).toDouble
    // lex ranks: 10->1, 11->2 (12 shares nothing); vec ranks: 12->1, 10->2, 11->3
    assert(out == Seq(
      (0L, 10L, rrf(1, 2), 1),   // present in both legs wins
      (0L, 11L, rrf(2, 3), 2),
      (0L, 12L, rrf(1), 3)), s"got $out")
  }

  test("x137 fused form: IVF vector leg at full probe equals the exact face") {
    import graft.operators.{Similarity, TextSearch}
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val root = tempDir("hybrid-ivf").toString + "/ivf"
    Similarity.saveIvfIndex(emb, root, nCentroids = 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"query_id", $"rank")
        .as[(Long, Long, Double, Int)].collect().toSeq
    val exact = rows(TextSearch.hybridTopK(docs, emb))
    assert(exact.nonEmpty, "vacuous fixture")
    // full probe (nProbe = nCentroids): the probed leg's candidate set
    // is the whole corpus, so RRF over its ranks reproduces the exact
    // face row-for-row — the leg-oblivious fusion contract, cashed
    val fused = rows(TextSearch.hybridTopKIvf(docs, emb, root, nProbe = 16))
    assert(fused == exact,
      s"drift: ${exact.zip(fused).collectFirst { case (a, b) if a != b => (a, b) }}")
    // partial probe still returns k fused rows per query (recall may
    // drop — that is the trade the probed leg exists to make)
    val partial = TextSearch.hybridTopKIvf(docs, emb, root, nProbe = 2)
    val perQuery = partial.groupBy($"query_id").count().as[(Long, Long)].collect().toMap
    exact.map(_._1).distinct.foreach { q =>
      assert(perQuery.getOrElse(q, 0L) > 0L, s"query $q lost all fused rows at nProbe=2")
    }
  }

  test("x138 label propagation: majority flips, ties keep seed, unseeded hosts get labeled") {
    import graft.operators.WebPrep
    val edges = Seq(
      ("a", "b", 5L), ("c", "b", 3L), ("b", "d", 2L), // b's tied vote (5 vs 5)
      ("a", "a", 9L),                                  // self-loop: dropped
      ("e", "a", 7L),                                  // e: labeled from a alone
      ("g", "f", 4L), ("h", "f", 5L))                  // f: outvoted by g+h
      .toDF("src_host", "dst_host", "n_links")
    val seeds = Seq(("a", 0L), ("c", 1L), ("d", 1L), ("f", 1L),
      ("g", 0L), ("h", 0L)).toDF("host", "seed")
    val out = WebPrep.labelPropagation(edges, seeds)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // b (unseeded): ok = w(c)+w(d) = 5, bad = w(a) = 5 -> tie keeps -1
    assert(out("b") == ("b", -1L, 5L, 5L, -1L), s"got ${out("b")}")
    // e (unseeded): one bad neighbor -> labeled 0
    assert(out("e") == ("e", -1L, 0L, 7L, 0L))
    // f (seed 1): outvoted 0:9 by its two bad neighbors -> flips to 0
    assert(out("f") == ("f", 1L, 0L, 9L, 0L))
    // g (seed 0): its only neighbor f is seeded 1 -> flips to 1
    assert(out("g") == ("g", 0L, 4L, 0L, 1L))
    // a: neighbors b (unseeded, no vote) + e (unseeded) -> keeps seed 0;
    // the self-loop's weight 9 must NOT appear anywhere
    assert(out("a") == ("a", 0L, 0L, 0L, 0L))
  }

  test("x138 fixed point: labels flow hop-by-hop to convergence; one iter is the single step") {
    import graft.operators.WebPrep
    // a 5-hop chain off one seed: single-step x138 labels only s's
    // direct neighbor; the fixed point floods the whole chain
    val chain = Seq(("s", "v1", 1L), ("v1", "v2", 1L), ("v2", "v3", 1L),
      ("v3", "v4", 1L), ("v4", "v5", 1L))
      .toDF("src_host", "dst_host", "n_links")
    val seed = Seq(("s", 1L)).toDF("host", "seed")
    val fixed = WebPrep.labelPropagationConverged(chain, seed)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r._5).toMap
    assert(Seq("v1", "v2", "v3", "v4", "v5").forall(fixed(_) == 1L),
      s"chain not flooded: $fixed")
    // one step from the same inputs reaches only v1
    val one = WebPrep.labelPropagation(chain, seed)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r._5).toMap
    assert(one("v1") == 1L && one("v2") == -1L && one("v5") == -1L, s"got $one")
    // maxIters = 1 IS the single-step face, row-for-row (the identity
    // contract: same schema, seed column = original seeds)
    val e2 = Seq(("a", "b", 5L), ("c", "b", 3L), ("b", "d", 2L),
      ("e", "a", 7L), ("g", "f", 4L), ("h", "f", 5L))
      .toDF("src_host", "dst_host", "n_links")
    val s2 = Seq(("a", 0L), ("c", 1L), ("d", 1L), ("f", 1L),
      ("g", 0L), ("h", 0L)).toDF("host", "seed")
    val viaConverged = WebPrep.labelPropagationConverged(e2, s2, maxIters = 1)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val viaStep = WebPrep.labelPropagation(e2, s2)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(viaConverged == viaStep, s"step-1 drifted: $viaConverged vs $viaStep")
    // a bipartite flip-flop core terminates at maxIters rather than
    // spinning (the classic synchronous-LP oscillation)
    val flip = Seq(("p", "q", 1L)).toDF("src_host", "dst_host", "n_links")
    val fs = Seq(("p", 1L), ("q", 0L)).toDF("host", "seed")
    val bounded = WebPrep.labelPropagationConverged(flip, fs, maxIters = 3)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(bounded.length == 2, s"flip-flop emitted ${bounded.toSeq}")
  }

  test("x139 line dedup: corpus-repeated lines drop everywhere, partial tails survive") {
    import graft.operators.Dedup
    val b = (1 to 10).map(i => s"b$i").mkString(" ")   // the boilerplate line
    val u = (1 to 10).map(i => s"u$i").mkString(" ")   // unique full line
    val tail4 = "t1 t2 t3 t4"                           // partial final line
    val docs = Seq(
      (1L, s"$b $u"),      // boiler + unique -> keeps u only
      (2L, b),             // all boiler -> empty rewrite
      (3L, s"$b $tail4"),  // boiler + 4-token tail -> keeps the tail
      (4L, s"$u $tail4"))  // nothing repeated -> identity rewrite
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs).orderBy($"doc_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out == Seq(
      (1L, 2L, 1L, 10L, m(u)),
      (2L, 1L, 1L, 0L, m("")),
      (3L, 2L, 1L, 4L, m(tail4)),
      (4L, 2L, 0L, 14L, m(s"$u $tail4"))), s"got $out")
  }

  test("x140 JL two-stage recall@5 vs exact x05 meets target; distortion bounded; SQL face agrees") {
    import graft.operators.Similarity
    val dir = sf("sf0.001")
    val exact = SparkEntry.queries("x05_cosine_knn")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jl = SparkEntry.queries("x140_jl_knn")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect jl).size.toDouble / exact.size
    info(f"JL two-stage recall@5 = $recall%.2f")
    // 0.77 measured at (outDim 32, 100 candidates) on this corpus's
    // near-tied neighborhoods; 0.6 leaves jitter headroom
    assert(recall >= 0.6, f"recall $recall%.2f too low")
    // JL lemma sanity: pairwise cosine distortion at outDim 32 stays
    // moderate (measured mean ~0.13 on consecutive-id pairs)
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val proj = emb.select($"vec_id",
      Similarity.jlProject($"embedding").as("p"), $"embedding")
    val d = proj.as("a").join(proj.as("b"), $"a.vec_id" + 1 === $"b.vec_id")
      .select(abs(
        graft.functions.VectorFunctions.cosine($"a.embedding", $"b.embedding") -
        graft.functions.VectorFunctions.cosine($"a.p", $"b.p")).as("d"))
      .agg(avg($"d"), max($"d")).as[(Double, Double)].head()
    info(f"JL cosine distortion mean=${d._1}%.3f max=${d._2}%.3f")
    assert(d._1 <= 0.2 && d._2 <= 0.7, s"distortion out of bounds: $d")
    // the injected SQL function computes the identical projection
    emb.createOrReplaceTempView("x140_emb")
    val viaSql = spark.sql(
      s"SELECT vec_id, jl_project(embedding, ${Similarity.JlOutDim}, 64, " +
        s"${Similarity.JlSeed}L) AS p FROM x140_emb ORDER BY vec_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaCol = proj.select($"vec_id", $"p").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(viaSql == viaCol, "SQL and Column jl_project faces disagree")
  }

  test("x141 epoch order: each epoch is a full permutation, epochs differ") {
    import graft.operators.Sampling
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    val n = docs.count()
    val out = Sampling.epochOrder(docs)
      .as[(Long, Long, Long)].collect().toSeq
    val byEpoch = out.groupBy(_._1)
    assert(byEpoch.keySet == Set(0L, 1L, 2L))
    byEpoch.foreach { case (e, rows) =>
      assert(rows.map(_._3).sorted == (1L to n).toSeq,
        s"epoch $e is not a 1..$n permutation")
    }
    val ord0 = byEpoch(0L).map(r => r._2 -> r._3).toMap
    val ord1 = byEpoch(1L).map(r => r._2 -> r._3).toMap
    assert(ord0 != ord1, "epoch 0 and 1 produced the identical order")
  }

  test("x142 MLM mask: independent hash recomputation agrees; rate in band; deterministic") {
    import graft.operators.{DocPrep, Sampling}
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    val out = DocPrep.mlmMaskAudit(docs)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    val toks = docs.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    // independent recomputation: pure-Scala md5 bucket, same contract as
    // Sampling.hashBucket (first 8 hex chars of md5(key || ':mask'))
    def bucket(key: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest((key + ":mask").getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16)
    }
    def md5s(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val thresh = DocPrep.MaskRate * Sampling.BucketSpace
    toks.take(50).foreach { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      val masked = ws.zipWithIndex.map { case (t, p) =>
        if (bucket(s"$id:$p") < thresh) "[MASK]" else t
      }
      val exp = (id, ws.length.toLong,
        masked.count(_ == "[MASK]").toLong, md5s(masked.mkString(" ")))
      assert(out(id) == exp, s"doc $id: got ${out(id)}, expected $exp")
    }
    val rate = out.values.map(_._3).sum.toDouble / out.values.map(_._2).sum
    assert(rate > 0.10 && rate < 0.20, s"global mask rate $rate out of band")
  }

  test("x143 pack manifest: offsets are exclusive prefix sums closing at pack_tokens") {
    import graft.operators.Sampling
    val out = Sampling.packManifest(Tables.load(spark, sf("sf0.001"), "documents"))
      .as[(Long, Long, Long, String, String)].collect()
    assert(out.nonEmpty && out.exists(_._2 > 1), "vacuous: no multi-doc pack")
    out.foreach { case (pid, nDocs, total, ids, offs) =>
      val idArr = ids.split(",").map(_.toLong)
      val offArr = offs.split(",").map(_.toLong)
      assert(idArr.length == nDocs && offArr.length == nDocs, s"pack $pid arity")
      assert(idArr.sorted.sameElements(idArr), s"pack $pid ids not in order")
      assert(offArr.head == 0L, s"pack $pid first offset != 0")
      assert(offArr.sorted.sameElements(offArr), s"pack $pid offsets not monotone")
      assert(offArr.forall(_ < total || total == 0L), s"pack $pid offset >= total")
    }
  }

  test("x144 threshold sweep: inclusive integer boundaries, monotone curve") {
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L, 5L, 10L),   // J = 0.50 -> survives t <= 50
      (3L, 4L, 8L, 10L),                 // J = 0.80 -> t <= 80 (inclusive)
      (5L, 6L, 10L, 10L))                // J = 1.00 -> every t
      .toDF("d1", "d2", "inter", "uni")
    val out = Dedup.thresholdSweep(pairs).orderBy($"threshold_pct")
      .as[(Long, Long)].collect().toSeq
    val expected = Dedup.SweepThresholds.map(_.toLong).sorted.map { t =>
      t -> Seq(50L, 80L, 100L).count(j => 100 * j >= t * 100L).toLong
    }
    assert(out == expected, s"got $out expected $expected")
  }

  test("x145 triangles: clique reads 1.0, star reads 0.0, leaves read null") {
    import graft.operators.WebPrep
    // K4 clique on a..d (each edge once, mixed directions + a duplicate
    // reverse edge and a self-loop to exercise the undirected dedup),
    // plus a star s -> t1..t3
    val edges = Seq(
      ("a","b",1L),("b","c",2L),("c","a",1L),("a","d",1L),("b","d",3L),
      ("d","c",1L),("c","d",9L),("a","a",5L),
      ("s","t1",1L),("s","t2",1L),("s","t3",1L))
      .toDF("src_host","dst_host","n_links")
    val out = WebPrep.triangleProfile(edges)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3)))).toMap
    Seq("a","b","c","d").foreach { h =>
      assert(out(h) == ((3L, 3L, 1.0)), s"$h: ${out(h)}") }
    assert(out("s") == ((3L, 0L, 0.0)))
    Seq("t1","t2","t3").foreach { h =>
      assert(out(h) == ((1L, 0L, null)), s"$h: ${out(h)}") }
  }

  test("x145 skewed hub: degree orientation keeps the wedge join bounded") {
    import graft.operators.WebPrep
    import org.apache.spark.sql.functions.{col, count, least, greatest, lit}
    // one mid-ranked hub (leaves on both lexicographic sides — the case
    // where id-ordered wedge enumeration anchors ~d²/4 candidates on
    // the hub's middle slot) plus one triangle hanging off it
    val leaves = (0 until 100).map(i => f"a_$i%03d") ++
      (0 until 100).map(i => f"z_$i%03d")
    val edges = (leaves.map(l => (l, "m_hub", 1L)) ++ Seq(
      ("x1", "x2", 1L), ("x2", "x3", 1L), ("x3", "x1", 1L),
      ("m_hub", "x1", 1L))).toDF("src_host", "dst_host", "n_links")
    val out = WebPrep.triangleProfile(edges)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3)))).toMap
    assert(out("m_hub") == ((201L, 0L, 0.0)), s"hub: ${out("m_hub")}")
    assert(out("x1") == ((3L, 1L, 0.333333)), s"x1: ${out("x1")}")
    assert(out("x2") == ((2L, 1L, 1.0)) && out("x3") == ((2L, 1L, 1.0)))
    leaves.foreach { l => assert(out(l) == ((1L, 0L, null)), s"$l: ${out(l)}") }

    // the scale claim itself: oriented out-degrees (the wedge join's
    // per-key fan-out) stay near sqrt(|E|), and the hub — every edge
    // pointing AT it — contributes ZERO wedges
    val keyed = edges.filter(col("src_host") =!= col("dst_host"))
    val und = keyed.select(least(col("src_host"), col("dst_host")).as("a"),
      greatest(col("src_host"), col("dst_host")).as("b")).distinct()
    val deg = und.select(col("a").as("host"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("host"), col("a").as("nbr")))
      .groupBy(col("host")).agg(count(lit(1)).as("degree"))
    val outdeg = WebPrep.orientByDegree(und, deg)
      .groupBy(col("src")).agg(count(lit(1)).as("od"))
      .as[(String, Long)].collect().toMap
    val e = und.count()
    assert(!outdeg.contains("m_hub"), s"hub has out-edges: ${outdeg.get("m_hub")}")
    assert(outdeg.values.max <= math.ceil(math.sqrt(2.0 * e)).toLong,
      s"out-degree ${outdeg.values.max} exceeds sqrt bound for |E|=$e")
    val wedges = outdeg.values.map(d => d * (d - 1) / 2).sum
    assert(wedges == 1L, s"wedge candidates: $wedges (want exactly the one closing wedge)")
  }

  test("x146 SFT pairs reconcile with x125: pairs = turns - 1 - breaks per thread") {
    import graft.operators.Analytics
    val ev = Tables.load(spark, sf("sf0.001"), "events")
    val audit = Analytics.dialogAudit(ev)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val pairs = Analytics.sftPairs(ev).groupBy($"thread_id").count()
      .as[(Long, Long)].collect().toMap
    audit.foreach { case (t, (_, turns, _, breaks, _)) =>
      val expected = turns - 1 - breaks
      assert(pairs.getOrElse(t, 0L) == expected,
        s"thread $t: ${pairs.getOrElse(t, 0L)} pairs vs turns=$turns breaks=$breaks")
    }
    // hand fixture: u,a,u,u,a -> adjacencies (u,a)(a,u)(u,u)(u,a):
    // three alternating pairs, one break
    val d = Seq((1L, 10L, "u", 100L), (2L, 10L, "a", 200L),
      (3L, 10L, "u", 300L), (4L, 10L, "u", 400L), (5L, 10L, "a", 500L))
      .map { case (e, u, r, s) => (e, u, r, new java.sql.Timestamp(s * 1000)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Analytics.sftPairs(d).orderBy($"turn_idx")
      .as[(Long, Long, Long, Long, String, String, Long)].collect().toSeq
    assert(out == Seq(
      (10L, 2L, 1L, 2L, "u", "a", 100L),
      (10L, 3L, 2L, 3L, "a", "u", 100L),
      (10L, 5L, 4L, 5L, "u", "a", 100L)), s"got $out")
  }

  test("x136 effective tokens: copies split their credit, uniques keep it") {
    // s0: one unique 4-token doc; s1+s2: an identical 6-token doc each
    // (family size 2 -> each source credits 3.0)
    val d = Seq(
      (1L, "s0", "w w w w"),
      (2L, "s1", "d d d d d d"), (3L, "s2", "d d d d d d"))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.Dedup.effectiveTokens(d)
      .orderBy($"source")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("s0", 1L, 4L, 4.0), ("s1", 1L, 6L, 3.0),
      ("s2", 1L, 6L, 3.0)), s"got $out")
  }

  test("x147 gopher rules: each gate trips on its planted violator") {
    import graft.operators.TextAnalysis
    def words(w: String, n: Int) = Seq.fill(n)(w).mkString(" ")
    val d = Seq(
      (1L, "the a " + words("word", 48)),     // passes all four gates
      (2L, "the a " + words("word", 8)),      // 10 tokens -> too short
      (3L, "the a " + words("ab", 48)),       // mean word length < 3
      (4L, "the a " + words("12345", 48)),    // alpha fraction 2/50 < 0.8
      (5L, words("word", 50)))                // zero stopword hits
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 50L, 196L, 50L, 2L, 1L)), s"got ${out(1L)}")
    assert(out(2L)._6 == 0L && out(2L)._2 == 10L)
    assert(out(3L)._6 == 0L && out(3L)._3 == 100L)   // 3+1+48*2 = 100 < 3*50
    assert(out(4L)._6 == 0L && out(4L)._4 == 2L)     // only the+a carry a letter
    assert(out(5L)._6 == 0L && out(5L)._5 == 0L)
    // the corpus face is non-vacuous in both directions at sf0.001
    val corpus = TextAnalysis.gopherQuery(spark, sf("sf0.001"))
      .groupBy($"admitted").count().as[(Long, Long)].collect().toMap
    assert(corpus.keySet == Set(0L, 1L), s"gate vacuous on corpus: $corpus")
  }

  test("x148 readability: hand-counted syllables/sentences, null on empty") {
    import graft.operators.TextAnalysis
    val d = Seq(
      (1L, "Hello world. This is fine! Right?"),
      (2L, "no punctuation here at all"),
      (3L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.readability(d)
      .as[(Long, Long, Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // hello(2) world(1) this(1) is(1) fine(2) right(1) = 8 vowel groups
    val f1 = r6(206.835 - 1.015 * r6(6.0 / 3.0) - 84.6 * r6(8.0 / 6.0))
    assert(out(1L) == ((1L, 6L, 3L, 8L, Some(f1))), s"got ${out(1L)}")
    // unpunctuated floors sentences at 1; o-u-a-io-e-e-a-a = count by hand:
    // no(1) punctuation(5: u-ua-io? -> u, ua, io = 3 groups... recompute
    // below from the regex itself to avoid hand-count drift
    assert(out(2L)._3 == 1L && out(2L)._5.isDefined)
    val syl2 = "[aeiouy]+".r.findAllIn("no punctuation here at all").length
    assert(out(2L)._4 == syl2.toLong, s"got ${out(2L)._4} want $syl2")
    assert(out(3L) == ((3L, 0L, 1L, 0L, None)), s"got ${out(3L)}")
  }

  test("x149 gram leakage: matches a pure-Scala recount over the engine splits") {
    import graft.operators.Sampling
    val d = docs.limit(120).select($"doc_id", $"text")
    val splitOf = Sampling.splitQuery(spark, sf("sf0.001"))
      .as[(Long, String)].collect().toMap
    def grams(t: String): Set[String] = {
      val w = t.split(" ").filter(_.nonEmpty)
      (0 to w.length - 4).map(i => w.slice(i, i + 4).mkString(" ")).toSet
    }
    val bySplit = d.as[(Long, String)].collect()
      .groupBy(r => splitOf(r._1))
      .map { case (s, rs) => s -> rs.map(r => grams(r._2)).reduce(_ ++ _) }
    val expected = bySplit.keys.toSeq.sorted.combinations(2).map { case Seq(a, b) =>
      (a, b, bySplit(a).size.toLong, bySplit(b).size.toLong,
        (bySplit(a) intersect bySplit(b)).size.toLong)
    }.toSet
    val got = Sampling.splitGramLeakage(d)
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(got == expected, s"got $got want $expected")
    assert(got.exists(_._5 > 0L), "vacuous fixture: no shared grams anywhere")
  }

  test("x149: persisted leakage index round-trips; audit plan never rescans the corpus") {
    import graft.operators.Sampling
    val tmp = tempDir("leak_idx").toString + "/idx"
    val d = Tables.load(spark, sf("sf0.001"), "documents")
    Sampling.saveLeakageIndex(d, tmp)
    val direct = Sampling.splitGramLeakage(d)
      .orderBy($"split_a", $"split_b")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    val viaIndex = Sampling.leakageFromIndex(spark, tmp)
      .orderBy($"split_a", $"split_b")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(viaIndex == direct, s"index audit drifted: $viaIndex vs $direct")
    // no-rescan gate: the from-index plan reads ONLY the parquet
    // artifact — the corpus never appears (that is the artifact's point:
    // release-over-release audits at index cost, not corpus cost)
    val audit = Sampling.leakageFromIndex(spark, tmp)
    val plan = audit.queryExecution.executedPlan.toString
    assert(scanRoots(audit).contains(s"${graft.core.DeltaIndex.current(spark, tmp)}/grams"),
      s"expected the persisted index in the plan:\n$plan")
    assert(!plan.contains("documents"),
      s"from-index audit still scans the corpus:\n$plan")
  }

  test("x152 leakage probe: planted overlaps count distinct shared grams per (doc, split)") {
    import graft.operators.Sampling
    // doc 1: grams "a b c d", "b c d e"; doc 2: gram "x y z w" twice in
    // text (distinct-gram contract: counts once); doc 3: too short for
    // any 4-gram (never emits)
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x y z w x y z w"),
      (3L, "p q")).toDF("doc_id", "text")
    val index = Seq(
      ("train", "a b c d"), ("train", "x y z w"),
      ("val", "a b c d"), ("val", "b c d e"),
      ("val", "nope nope nope nope")).toDF("split", "g")
      .select($"split", xxhash64($"g").as("gram"))
    val out = Sampling.leakageProbe(docs, index)
      .as[(Long, String, Long)].collect().toSet
    // doc 2's "x y z w" appears at two positions but is ONE distinct
    // gram; "w x y z"/"z w x y"/"y z w x" miss the index
    assert(out == Set((1L, "train", 1L), (1L, "val", 2L), (2L, "train", 1L)),
      s"got $out")
  }

  test("x154 line repetition: within-doc repeats count, cross-doc repeats don't") {
    import graft.operators.Dedup
    val a = (1 to 10).map(i => s"a$i").mkString(" ")   // one full line
    val b = (1 to 10).map(i => s"b$i").mkString(" ")
    val tail5 = (1 to 5).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, s"$a $a $b"),        // line a twice + b: 3 lines, 2 dup, 10 dup tokens
      (2L, s"$a $tail5"),       // doc 1's line a again — CROSS-doc, no dup here
      (3L, s"$a $b $tail5"),    // 3 lines, no repeats
      (4L, ""))                 // token-less: zero lines
      .toDF("doc_id", "text")
    val out = Dedup.lineRepetition(docs)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 2L, 10L)), s"got ${out(1L)}")
    assert(out(2L) == ((2L, 2L, 0L, 0L)), s"got ${out(2L)}")
    assert(out(3L) == ((3L, 3L, 0L, 0L)), s"got ${out(3L)}")
    assert(out(4L) == ((4L, 0L, 0L, 0L)), s"got ${out(4L)}")
    // the query face's plant: prepending one line width makes line 2
    // (the doc's own original first line) equal line 1 — every id%6==0
    // doc with >= one full line reports dup mass
    val planted = Dedup.lineRepetitionQuery(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long)].collect()
    assert(planted.exists(r => r._1 % 6 == 0 && r._3 >= 2L),
      "plant produced no within-doc dup lines")
    assert(planted.filter(_._1 % 6 != 0).forall(_._3 == 0L),
      "unplanted doc reports dup lines")
  }

  test("x154 native kernel: bit-for-bit equal to the interpreted sort/filter/fold composition") {
    // the reference implementation is the EXACT column composition
    // lineRepSig shipped before the LineRepStats doGenCode kernel —
    // rebuilt here verbatim so any kernel drift (ordering, token
    // counting, empty/unicode edges) fails this spec, not the oracle
    import graft.functions.VectorFunctions.bindArray
    import graft.operators.{Dedup, TextAnalysis}
    def interpretedSig(lineTokens: Int): org.apache.spark.sql.Column =
      bindArray(sort_array(Dedup.lineChunks(col("text"), lineTokens))) { s =>
        val n = size(s)
        val dupFlags = filter(sequence(lit(1), n), i =>
          (i > 1 && element_at(s, i) === element_at(s, i - 1)) ||
            (i < n && element_at(s, i) === element_at(s, i + 1)))
        val repeatTokens = aggregate(
          filter(sequence(lit(1), n), i =>
            i > 1 && element_at(s, i) === element_at(s, i - 1)),
          lit(0L),
          (acc, i) => acc +
            size(TextAnalysis.wsTokens(element_at(s, i))).cast("long"))
        struct(n.cast("long").as("n_lines"),
          size(dupFlags).cast("long").as("n_dup_lines"),
          repeatTokens.as("dup_tokens"))
      }
    val a = (1 to 10).map(i => s"a$i").mkString(" ")
    val crafted = Seq(
      (1L, s"$a $a $a x"),              // triple repeat + 1-token tail line
      (2L, s"$a  $a\tz"),               // double spaces; tab INSIDE a token
      (3L, "é ü ß 漢 字 é ü ß 漢 字 é ü ß 漢 字 é ü ß 漢 字"), // unicode, 2 equal lines
      (4L, ""), (5L, null), (6L, "one"),
      (7L, (1 to 95).map(i => s"t${i % 7}").mkString(" "))) // partial tail, in-doc repeats
      .toDF("doc_id", "text")
    val corpus = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    // comparison is at the published grain — the coalesced
    // lineRepFinalCols unpacking every face emits (the one intended
    // difference below it: interpreted yields struct(0,0,0) for NULL
    // text via its otherwise(array()) branch, the native expression is
    // null-in-null-out; both coalesce to the same zeros)
    Seq(crafted, corpus).foreach { docs =>
      Seq(3, Dedup.LineTokens).foreach { lt =>
        def unpack(sig: org.apache.spark.sql.Column) = struct(
          coalesce(sig.getField("n_lines"), lit(0L)),
          coalesce(sig.getField("n_dup_lines"), lit(0L)),
          coalesce(sig.getField("dup_tokens"), lit(0L)))
        val both = docs.select(col("doc_id"),
          unpack(Dedup.lineRepSig(lt)).as("native"),
          unpack(interpretedSig(lt)).as("ref"))
        val diff = both.filter(
          !(col("native") <=> col("ref"))).collect()
        assert(diff.isEmpty, s"lineTokens=$lt diverged: ${diff.take(3).toSeq}")
      }
    }
  }

  test("x97 native kernel: match-for-match equal to the regexp_count/replace chain") {
    import graft.operators.DocPrep
    // the reference is the exact six-expression chain piiBaseCols
    // shipped before the PiiStats kernel
    def refCols: Seq[org.apache.spark.sql.Column] = {
      val t = col("text")
      val redacted = DocPrep.redactPii(t)
      Seq(regexp_count(t, lit(DocPrep.PiiEmailRe)).cast("long"),
        regexp_count(t, lit(DocPrep.PiiPhoneRe)).cast("long"),
        regexp_count(t, lit(DocPrep.PiiIpRe)).cast("long"),
        length(t).cast("long"),
        length(redacted).cast("long"))
    }
    val crafted = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org; call 555-123-4567 at 10.0.0.1"),
      (2L, "a@b.c two dots 1.2.3.4.5 phone-ish 12-345-6789 555-555-55555"),
      (3L, "overlapping a@b.co10.0.0.1 unicode λ@π.gr 漢 9.9.9.9"),
      (4L, ""), (5L, null), (6L, "no pii at all"),
      (7L, "x@y.zz " * 50 + "1.2.3.4 " * 50))
      .toDF("doc_id", "text")
    val corpus = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    // the x97 face PLANTS pii residues; compare over its planted corpus too
    val planted = DocPrep.piiQuery(spark, sf("sf0.001"))
    assert(planted.filter(col("pii_total") > 0).count() > 0, "plants missing")
    Seq(crafted, corpus).foreach { docs =>
      val diff = docs.select(col("doc_id"),
          struct(DocPrep.piiBaseCols: _*).as("native"),
          struct(refCols: _*).as("ref"))
        .filter(!(col("native") <=> col("ref"))).collect()
      assert(diff.isEmpty, s"diverged: ${diff.take(3).toSeq}")
    }
  }

  test("md5 bucket kernel: bit-for-bit equal to the hashBucket/conv composition") {
    import graft.operators.{Sampling, TextAnalysis}
    import graft.functions.expressions.NativeExpressions
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((90001L, ""), (90002L, null), (90003L, "one"),
        (90004L, "é ü 漢字 mixed:salt edge"), (90005L, "a  b   c"))
        .toDF("doc_id", "text"))
    val w = TextAnalysis.wsTokens(col("text"))
    // unigram form (x153): reference = explode + hashBucket % buckets
    val refUni = docs.select(col("doc_id"),
      explode(w).as("t"))
      .select(col("doc_id"),
        (Sampling.hashBucket(col("t"), "dsir") % 256).as("b"))
    val natUni = docs.select(col("doc_id"),
      explode(NativeExpressions.md5BucketTokens(w, "dsir", 256,
        bigrams = false)).as("b"))
    assert(refUni.exceptAll(natUni).isEmpty && natUni.exceptAll(refUni).isEmpty,
      "unigram buckets diverged")
    // unigram+bigram form (x155): reference = explode(concat(w, shingles))
    val refBi = docs.select(col("doc_id"),
      explode(concat(w, NativeExpressions.wordShinglesAll(w, 2))).as("t"))
      .select(col("doc_id"),
        (Sampling.hashBucket(col("t"), "nbq") % 64).as("bk"))
    val natBi = docs.select(col("doc_id"),
      explode(NativeExpressions.md5BucketTokens(w, "nbq", 64,
        bigrams = true)).as("bk"))
    assert(refBi.exceptAll(natBi).isEmpty && natBi.exceptAll(refBi).isEmpty,
      "unigram+bigram buckets diverged")
  }

  test("x153 DSIR weights: target-like docs outscore alien docs; zero-token docs are null reports") {
    import graft.operators.Sampling
    val target = Seq((900L, "alpha beta gamma delta alpha beta"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta alpha gamma"),  // every token in the target
      (2L, "zork quux blarg frotz"),   // no token in the target
      (3L, "alpha zork beta quux"),    // half and half
      (4L, ""))                        // zero tokens
      .toDF("doc_id", "text")
    val out = Sampling.dsirWeights(raw, target)
      .as[(Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    val w = out.view.mapValues(_._3).toMap
    assert(w(1L).get > w(3L).get && w(3L).get > w(2L).get,
      s"importance order broken: $w")
    // absolute signs are smoothing-dominated at fixture scale (6 target
    // tokens vs 256 buckets); the ORDERING is the resampling contract
    assert(out(4L) == ((4L, 0L, None)), s"zero-token doc: ${out(4L)}")
    assert(out(1L)._2 == 4L, s"n_tokens: ${out(1L)}")
  }

  test("x151 contamination excision: overlapping hit spans union, clean docs untouched") {
    import graft.operators.Dedup
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val ref = Seq((1L, "r1 r2 r3 r4 r5")).toDF("doc_id", "text")
    val cand = Seq(
      (10L, "a b r1 r2 r3 r4 c d"),   // one hit span mid-doc
      (11L, "x y z w q"),             // clean
      (12L, "r1 r2 r3 r4 r5"),        // fully condemned (two overlapping hits)
      (13L, "a r1 r2 r3 r4 r5 b"),    // overlap union {1..5}
      (14L, null))                    // null text: dropped in BOTH faces
      .toDF("doc_id", "text")
    val out = Dedup.exciseContamination(cand, ref)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(10L) == ((10L, 8L, 4L, md5("a b c d"))), s"got ${out(10L)}")
    assert(out(11L) == ((11L, 5L, 0L, md5("x y z w q"))))
    assert(out(12L) == ((12L, 5L, 5L, md5(""))))
    assert(out(13L) == ((13L, 7L, 5L, md5("a b"))))
    // the null-text doc emits NOTHING — there is no text to rewrite, and
    // the streaming face (which rebuilds from ingested text) agrees on
    // "absent", keeping replay == batch row-for-row
    assert(!out.contains(14L), s"null-text doc emitted: ${out.get(14L)}")
    // the sorted-membership kernel is bit-identical to the linear
    // array_contains form it replaced (same filter, O(log) per probe),
    // checked over the real corpus: same doc set, same rewrite keys
    val docsAll = Tables.load(spark, sf("sf0.001"), "documents")
    val isRef2 = col("source").isin("src0", "src1")
    val viaKernel = Dedup.exciseContamination(
        docsAll.filter(!isRef2), docsAll.filter(isRef2))
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    val candRef = docsAll.filter(!isRef2).filter($"text".isNotNull)
      .select($"doc_id", graft.operators.TextAnalysis.wsTokens($"text").as("w"))
    val refgRef = docsAll.filter(isRef2)
      .select(explode(Dedup.wordShingles($"text", 4)).as("gram")).distinct()
    val droppedRef = candRef
      .select($"doc_id", posexplode(
        graft.functions.expressions.NativeExpressions.wordShinglesAll($"w", 4)))
      .toDF("doc_id", "g", "gram")
      .join(refgRef, Seq("gram"), "left_semi")
      .select($"doc_id", explode(sequence($"g", $"g" + 3)).as("p"))
      .groupBy($"doc_id").agg(collect_set($"p").as("dp"))
    val viaLinear = candRef.join(droppedRef, Seq("doc_id"), "left")
      .select($"doc_id", size($"w").cast("long").as("n_tokens"),
        coalesce(size($"dp"), lit(0)).cast("long").as("n_dropped"),
        org.apache.spark.sql.functions.md5(concat_ws(" ",
          filter($"w", (t, i) => !array_contains(
            coalesce($"dp", lit(Array.empty[Int])), i)))).as("out_key"))
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(viaKernel == viaLinear, "sorted kernel drifted from array_contains form")
    // corpus reconciliation with x16: exactly the docs with hit spans
    // lose tokens, everyone else's rewrite is a no-op
    val hitDocs = graft.operators.Dedup
      .decontaminateQuery(spark, sf("sf0.001"))
      .filter($"n_hit_spans" >= 1).select($"doc_id").as[Long].collect().toSet
    val dropped = Dedup.exciseQuery(spark, sf("sf0.001"))
      .filter($"n_dropped" > 0).select($"doc_id").as[Long].collect().toSet
    assert(dropped == hitDocs, s"excision/x16 drift: ${(dropped diff hitDocs) ++ (hitDocs diff dropped)}")
    assert(hitDocs.nonEmpty, "vacuous fixture: no contamination at sf0.001")
  }

  test("x150 curriculum bands: exact global rank with tie-break, integer band edges") {
    import graft.operators.Sampling
    // planted lengths with ties: two 3-token docs, id breaks the tie
    val d = Seq(
      (7L, "a b c"), (3L, "a b c"), (9L, "a"), (1L, "a b c d e"),
      (5L, "a b"), (2L, "a b c d"), (8L, "a b c d e f"), (4L, "a b"))
      .toDF("doc_id", "text")
    val n = 8L
    val expected = Seq(   // (id, n_tokens, rank) sorted by (n_tokens, doc_id)
      (9L, 1L, 1L), (4L, 2L, 2L), (5L, 2L, 3L), (3L, 3L, 4L),
      (7L, 3L, 5L), (2L, 4L, 6L), (1L, 5L, 7L), (8L, 6L, 8L))
      .map { case (id, tok, rk) => id -> ((id, tok, rk, 4L * (rk - 1L) / n)) }.toMap
    val out = Sampling.curriculumBands(d)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out == expected, s"got $out")
    // corpus face: bands are the contiguous quartiles of the rank order
    val c = Sampling.curriculumQuery(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long)].collect()
    val byBand = c.groupBy(_._4).view.mapValues(v => (v.map(_._3).min, v.map(_._3).max)).toMap
    assert(byBand.keySet == Set(0L, 1L, 2L, 3L))
    (0L to 2L).foreach { b =>
      assert(byBand(b)._2 < byBand(b + 1)._1, s"band $b overlaps ${b + 1}") }
  }

  test("x155 NB classifier: separable vocab classifies; featureless docs score the prior") {
    import graft.operators.TextAnalysis
    val posText = "solid careful prose with varied real words"
    val negText = "buy click buy click spam offer spam offer"
    val docs = ((1L to 6L).map(i => (i, posText)) ++
      (11L to 16L).map(i => (i, negText)) ++
      Seq((30L, ""))).toDF("doc_id", "text")
    val out = TextAnalysis.nbQualityClassifier(docs, col("doc_id") <= 6L)
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    (1L to 6L).foreach { i =>
      assert(out(i)._5 == 1L && out(i)._4 > 0, s"positive doc $i: ${out(i)}") }
    (11L to 16L).foreach { i =>
      assert(out(i)._5 == 0L && out(i)._4 < 0, s"negative doc $i: ${out(i)}") }
    // the featureless doc scores the PRIOR alone: 6 positives vs 7
    // negatives -> w0 = round6(ln(7/8)) < 0 -> pred 0, n_feats 0
    val w0 = BigDecimal(math.log(7.0 / 8.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(30L)._3 == 0L && out(30L)._4 == w0 && out(30L)._5 == 0L,
      s"featureless doc: ${out(30L)} expected log_odds $w0")
  }

  test("x156 DoReMi: corpus-rare domains upweight; weights are a smoothed simplex") {
    import graft.operators.Sampling
    // "common" dominates the corpus model; "alien"'s tokens are rare
    val docs = ((1L to 9L).map(i => (i, "the quick brown fox jumps", "common")) ++
      Seq((20L, "zorkmid frobnitz quux xyzzy grue", "alien")))
      .toDF("doc_id", "text", "source")
    val out = Sampling.doremiWeights(docs)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("alien")._4 > 0 && out("common")._4 == 0.0,
      s"excess: $out")
    assert(out("alien")._5 > out("common")._5,
      s"alien domain must upweight: $out")
    val total = out.values.map(_._5).sum
    assert(math.abs(total - 1.0) < 1e-9, s"weights must sum to 1: $total")
    // the smoothing floor: no domain below c/K
    val floor = Sampling.DoremiSmooth / out.size
    assert(out.values.forall(_._5 >= floor - 1e-12), s"floor broken: $out")
  }

  test("x158 PCA projection: a planted dominant axis is recovered") {
    import graft.operators.Similarity
    // 40 vectors hugging the e0/e1 diagonal (the planted PC1) with a
    // tiny alternating off-axis wiggle, split into two opposite lobes
    val d = 8
    val vecs = (0 until 40).map { k =>
      val sign = if (k % 2 == 0) 1.0f else -1.0f
      val base = Array.fill(d)(0.0f)
      base(0) = 10.0f * sign; base(1) = 10.0f * sign
      base(2 + (k % 3)) = 0.5f * (if (k % 4 < 2) 1.0f else -1.0f)
      (k.toLong, base.toSeq, k % 2)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val out = Similarity.pcaProjection(emb)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r).toMap
    // the two lobes project to opposite signs of (nearly) equal
    // magnitude ~ |v| = sqrt(200); off-axis energy is ~0.5
    val pos = out.values.filter(_._2 == 0).map(_._3)
    val neg = out.values.filter(_._2 == 1).map(_._3)
    assert(pos.forall(p => math.abs(math.abs(p) - math.sqrt(200.0)) < 1.0),
      s"magnitude off: ${pos.take(3)}")
    assert(pos.map(math.signum).toSet.size == 1 &&
      neg.map(math.signum).toSet.size == 1 &&
      math.signum(pos.head) == -math.signum(neg.head),
      s"lobes must project to opposite signs: ${pos.head}, ${neg.head}")
  }

  test("x159 CCNet buckets: equal rank bands ordered by LM score; unscored docs null") {
    import graft.operators.Sampling
    val out = Sampling.ccnetBucketsQuery(spark, sf("sf0.001"))
      .as[(Long, Long, Option[Double], Option[Long], Option[Long])].collect()
    val scored = out.filter(_._3.isDefined)
    assert(scored.nonEmpty, "vacuous: nothing scored")
    // unscored docs are a report row with null rank/bucket
    out.filter(_._3.isEmpty).foreach { r =>
      assert(r._4.isEmpty && r._5.isEmpty, s"unscored doc got a band: $r") }
    // bands are rank-contiguous: the (score, id) order separates them
    val byBucket = scored.groupBy(_._5.get)
    assert(byBucket.keySet == Set(0L, 1L, 2L), s"bands: ${byBucket.keySet}")
    def key(r: (Long, Long, Option[Double], Option[Long], Option[Long])) =
      (r._3.get, r._1)
    (0L to 1L).foreach { b =>
      val hi = byBucket(b).map(key).max
      val lo = byBucket(b + 1).map(key).min
      assert(Ordering[(Double, Long)].lt(hi, lo),
        s"band $b overlaps ${b + 1}: $hi vs $lo") }
    // equal bands: sizes differ by at most 1
    val sizes = byBucket.values.map(_.length)
    assert(sizes.max - sizes.min <= 1, s"unbalanced bands: $sizes")
  }

  test("x160 data budget: upweighted scarce domains hit the epoch cap, abundant ones fill demand") {
    import graft.operators.Sampling
    // "common" holds ~90% of tokens; "alien" is scarce AND upweighted
    // (corpus-rare vocabulary), so at a 2x-corpus budget it must cap at
    // 4 epochs while common fills its demand from supply
    val docs = ((1L to 9L).map(i => (i, "the quick brown fox jumps", "common")) ++
      Seq((20L, "zorkmid frobnitz quux xyzzy grue", "alien")))
      .toDF("doc_id", "text", "source")
    val out = Sampling.dataBudget(docs)
      .as[(String, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (alien, common) = (out("alien"), out("common"))
    // alien: 5 tokens of supply x 4-epoch cap = 20; its demand (2x50
    // corpus tokens x a dominant weight) far exceeds it
    assert(alien._4 > alien._5 && alien._5 == 20.0 && alien._6 == 4.0,
      s"alien must cap: $alien")
    // common: supply 45x4 = 180 >= demand -> alloc == demand, epochs < cap
    assert(common._5 == common._4 && common._6 < Sampling.BudgetEpochCap,
      s"common must fill demand: $common")
    // the plan never allocates beyond the budget
    val budget = Sampling.BudgetFactor * out.values.map(_._2).sum
    assert(out.values.map(_._5).sum <= budget + 1e-6,
      s"over-allocated: ${out.values.map(_._5).sum} vs $budget")
  }

  test("x164 encoding audit: damage classes count exactly, clean verdict gates on unambiguous damage only") {
    import graft.operators.DocPrep
    val docs = Seq(
      (1L, "clean ascii text."),
      (2L, "bad �� decode"),              // 2 replacement chars
      (3L, "bell\u0007 and null\u0000 byte"),       // 2 control bytes
      (4L, "wide    gap  here"),                    // one 4-space run, one 2-space (no hit)
      (5L, "café naïve"),                 // non-ascii but NOT damage -> clean
      (6L, "tab\tand\nnewline\rok")                 // \t\n\r are NOT control hits
    ).toDF("doc_id", "text")
    val out = DocPrep.encodingAudit(docs)
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._3 == 0 && out(1L)._4 == 0 && out(1L)._6 == 0 && out(1L)._7 == 1)
    assert(out(2L)._3 == 2 && out(2L)._7 == 0, s"${out(2L)}")
    assert(out(3L)._4 == 2 && out(3L)._7 == 0, s"${out(3L)}")
    assert(out(4L)._6 == 1 && out(4L)._7 == 0, s"${out(4L)}")
    // accented text: lower ascii mass, but clean — the report-not-gate contract
    assert(out(5L)._5 == out(5L)._2 - 2 && out(5L)._7 == 1, s"${out(5L)}")
    assert(out(6L)._4 == 0 && out(6L)._7 == 1, s"${out(6L)}")
  }

  test("x165 context sweep: exact truncation/padding accounting at every grid point") {
    import graft.operators.DocPrep
    // lengths 2, 5, 8 tokens against grid {4, 8}
    val docs = Seq(
      (1L, "a b"), (2L, "a b c d e"), (3L, "a b c d e f g h")
    ).toDF("doc_id", "text")
    val out = DocPrep.contextSweep(docs, Seq(4L, 8L))
      .as[(Long, Long, Long, Long, Long, Long, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    // L=4: kept = 2+4+4 = 10, dropped = 0+1+4 = 5, pad = 2+0+0 = 2,
    //      truncated docs = 2, util = 10/12
    assert(out(4L) == ((4L, 3L, 2L, 15L, 10L, 5L, 2L,
      math.rint(5.0 / 15.0 * 1e6) / 1e6, math.rint(10.0 / 12.0 * 1e6) / 1e6)),
      s"${out(4L)}")
    // L=8: kept = 2+5+8 = 15, dropped = 0, pad = 6+3+0 = 9, util = 15/24
    assert(out(8L) == ((8L, 3L, 0L, 15L, 15L, 0L, 9L, 0.0, 0.625)),
      s"${out(8L)}")
  }

  test("x169 cross probe finds exactly the cross-side near-dups, never in-corpus pairs") {
    import graft.operators.Dedup
    // hand-built bipartite corpus: candidate 1 copies reference 100,
    // candidates 2 and 3 copy EACH OTHER (in-corpus pair — must NOT
    // surface), references 101/102 copy each other (same), candidate 4
    // and reference 103 are unrelated singletons
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val cand = Seq(
      (1L, "en", blk("shared")), (2L, "en", blk("candpair")),
      (3L, "en", blk("candpair")), (4L, "en", blk("lonelyc"))
    ).toDF("doc_id", "lang", "text")
    val ref = Seq(
      (100L, "en", blk("shared")), (101L, "en", blk("refpair")),
      (102L, "en", blk("refpair")), (103L, "en", blk("lonelyr"))
    ).toDF("doc_id", "lang", "text")
    val out = Dedup.crossNearDupProbe(cand, ref)
      .as[(Long, Long, Long, Long)].collect().toSet
    // ONE pair: candidate 1 vs reference 100, identical shingle sets
    assert(out == Set((1L, 100L, 10L, 10L)), s"got $out")
  }

  test("x168 source scorecard equals a hand rollup of the x163 panel") {
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    val panel = TextAnalysis.qualityPanel(docs)
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
    val expected = panel.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"admitted").as("n_admitted"),
        sum($"clean").as("n_clean"),
        sum(when($"pii_total" > 0L, 1L).otherwise(0L)).as("n_pii_docs"),
        sum(when($"n_dup_lines" > 0L, 1L).otherwise(0L)).as("n_dup_docs"),
        coalesce(sum($"n_tokens"), lit(0L)).as("n_tokens"),
        count($"flesch").as("ns"),
        sum($"flesch".cast("decimal(18,6)")).as("fs"))
      .select($"source", $"n_docs", $"n_admitted", $"n_clean",
        $"n_pii_docs", $"n_dup_docs", $"n_tokens",
        when($"ns" > 0L, round($"fs".cast("double") / $"ns".cast("double"), 6))
          .as("avg_flesch"))
      .orderBy($"source").collect().map(_.toSeq).toSeq
    val got = TextAnalysis.sourceScorecard(docs)
      .orderBy($"source").collect().map(_.toSeq).toSeq
    assert(got == expected, s"drift:\n$got\nvs\n$expected")
    assert(got.nonEmpty && got.forall(_.head != null))
  }

  test("x167 Bradley-Terry recovers the planted strength ladder") {
    import graft.operators.Analytics
    val out = Analytics.bradleyTerryQuery(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == (0L to 4L), s"items: ${out.map(_._1).toSeq}")
    // the planted winner rule is EXACTLY a BT model with strengths
    // proportional to item+1 — the fit must recover the ascending ladder
    assert(out.sliding(2).forall { case Array(lo, hi) => hi._4 > lo._4 },
      s"ladder broken: ${out.map(r => r._1 -> r._4).toSeq}")
    // strengths are positive, normalized to sum |items|
    assert(out.forall(_._4 > 0))
    assert(math.abs(out.map(_._4).sum - 5.0) < 1e-3, s"${out.map(_._4).sum}")
    // every game has one winner: wins sum to games/2 (each game counted
    // once per participant in n_games)
    assert(out.map(_._3).sum * 2 == out.map(_._2).sum,
      s"wins ${out.map(_._3).sum} games ${out.map(_._2).sum}")
  }

  test("x166 span corruption matches an independent JVM reference bit-for-bit") {
    import graft.operators.DocPrep
    // independent reference: replicate keepAtRate's md5-bucket test in
    // plain JVM code and build the expected corrupted text by hand
    def bucket(key: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val thresh = DocPrep.SpanRate * graft.operators.Sampling.BucketSpace
    def reference(docId: Long, text: String): (Long, Long, Long, String) = {
      val w = text.split(" ").filter(_.nonEmpty)
      def hit(cell: Int) =
        bucket(s"$docId:$cell:${DocPrep.SpanSalt}") < thresh
      val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
      var k = 0
      for (i <- w.indices) {
        val cell = i - i % DocPrep.SpanLen
        if (hit(cell)) {
          if (i == cell) { pieces += s"<extra_id_$k>"; k += 1 }
        } else pieces += w(i)
      }
      val masked = w.indices.count(i => hit(i - i % DocPrep.SpanLen))
      val spans = w.indices.count(i => i % DocPrep.SpanLen == 0 && hit(i))
      (w.length.toLong, spans.toLong, masked.toLong, pieces.mkString(" "))
    }
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text").filter($"text".isNotNull).limit(60)
    val expected = docs.as[(Long, String)].collect().map { case (id, t) =>
      val (n, s, m, out) = reference(id, t)
      id -> ((id, n, s, m,
        java.security.MessageDigest.getInstance("MD5")
          .digest(out.getBytes("UTF-8")).map("%02x".format(_)).mkString))
    }.toMap
    val got = DocPrep.spanCorruptAudit(docs)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got == expected,
      s"drift: ${expected.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(3)}")
    // corruption actually fired somewhere
    assert(got.values.exists(_._4 > 0), "no spans hit at all")
  }

  test("x163 quality panel equals each standalone face column-for-column (planted corpus)") {
    import graft.operators.{Dedup, DocPrep, TextAnalysis}
    // plant BOTH the x154 dup-line prepend and the x97 PII appends so
    // every panel leg carries live signal, then feed the SAME frame to
    // the panel and to each standalone face
    val raw = Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text").limit(120)
    val first = concat_ws(" ",
      slice(TextAnalysis.wsTokens($"text"), 1, Dedup.LineTokens))
    val docs = raw.withColumn("text",
        when($"doc_id" % 6 === 0 && $"text".isNotNull,
          concat_ws(" ", first, $"text")).otherwise($"text"))
      .withColumn("text", concat($"text",
        when($"doc_id" % 5 === 0,
          concat(lit(" contact user"), $"doc_id".cast("string"),
            lit("@example.com ok"))).otherwise(lit("")),
        when($"doc_id" % 7 === 0,
          concat(lit(" call 555-867-"),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
            lit(" now"))).otherwise(lit("")),
        when($"doc_id" % 9 === 0,
          lit(" bad" + DocPrep.ReplChar + "decode")).otherwise(lit(""))))
    val panel = TextAnalysis.qualityPanel(docs)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(rowsOf(panel.select($"doc_id", $"n_tokens", $"n_chars",
        $"n_alpha", $"n_stop", $"admitted"))
      == rowsOf(TextAnalysis.gopherRules(docs)), "gopher leg drifted")
    assert(rowsOf(panel.select($"doc_id", $"n_words", $"n_sentences",
        $"n_syllables", $"flesch"))
      == rowsOf(TextAnalysis.readability(docs)), "readability leg drifted")
    assert(rowsOf(panel.select($"doc_id", $"n_lines", $"n_dup_lines",
        $"dup_tokens"))
      == rowsOf(Dedup.lineRepetition(docs)), "line-repetition leg drifted")
    assert(rowsOf(panel.select($"doc_id", $"n_email", $"n_phone", $"n_ip",
        $"pii_total", $"raw_len", $"redacted_len"))
      == rowsOf(DocPrep.piiAudit(docs)), "pii leg drifted")
    // the encoding leg (x164's n_chars is the panel's raw_len)
    assert(rowsOf(panel.select($"doc_id", $"raw_len".as("n_chars"), $"n_repl",
        $"n_ctrl", $"n_ascii", $"n_longspace", $"clean"))
      == rowsOf(DocPrep.encodingAudit(docs)), "encoding leg drifted")
    // and the plants actually fired (the legs are not comparing zeros)
    val sums = panel.agg(sum($"n_dup_lines"), sum($"pii_total"), sum($"n_repl"))
      .collect()(0)
    assert(sums.getLong(0) > 0 && sums.getLong(1) > 0 && sums.getLong(2) > 0,
      s"plants missing: $sums")
  }

  test("x161 BPE merges: overlap parity, occurrence weighting, and tie-breaks") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "aaab aaab aab"), (2L, "xy xy")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeTable(docs)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    // step 1: (a,a) = 5 (two per "aaab" occurrence x2 + one in "aab");
    // the rewrite of "aaab" is leftmost-greedy: [aa, a, b], NOT [a, aa, b]
    // step 2: three-way tie at 2 — (a \x01 b) sorts before (aa \x01 a)
    // and (x \x01 y), so (a,b) merges; "aab" -> [aa, b] is untouched
    // step 3: (aa, ab) = 2 beats (x, y) = 2 on the key sort
    assert(out.toSeq == Seq(
      (1, "a", "a", "aa", 5L),
      (2, "a", "b", "ab", 2L),
      (3, "aa", "ab", "aaab", 2L)), s"got ${out.toSeq}")
  }

  test("x161 word-grain training is bit-identical to the occurrence-grain form") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.DataFrame
    // the occurrence-grain reference loop (round-15's form): every word
    // OCCURRENCE is a row, pair counts are plain COUNT(1) — the grain
    // Sennrich et al. 2016 aggregates away; identical statistic because
    // sum over occurrences == count-weighted sum over distinct words
    def occurrenceGrain(docs: DataFrame, steps: Int): DataFrame = {
      var words = docs.select(explode(TextAnalysis.wsTokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .select(split(col("w"), "").as("s"))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
      var step = 1
      var exhausted = false
      while (step <= steps && !exhausted) {
        val top = words.select(explode(TextAnalysis.symbolPairs(col("s"))).as("p"))
          .groupBy(col("p")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("p")).limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val parts = top(0).getString(0).split(TextAnalysis.BpeSep, 2)
          out += ((step, parts(0), parts(1), parts(0) + parts(1), top(0).getLong(1)))
          words = words.select(TextAnalysis.mergePass(col("s"), parts(0), parts(1)).as("s"))
        }
        step += 1
      }
      words.sparkSession.createDataFrame(out.toSeq)
        .toDF("step", "lhs", "rhs", "merged", "n_pair")
    }
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text").limit(60)
    val fast = TextAnalysis.bpeMergeTable(docs, 5)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    val slow = occurrenceGrain(docs, 5)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(fast == slow, s"grain change altered the merge table:\n$fast\nvs\n$slow")
  }

  test("x161 at realistic depth: k=50 merge rounds stay vocabulary-sized and well-ordered") {
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text").limit(30)
    val mt = TextAnalysis.bpeMergeTable(docs, 50)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(mt.nonEmpty && mt.size <= 50, s"size ${mt.size}")
    assert(mt.map(_._1) == (1 to mt.size), s"steps not contiguous: ${mt.map(_._1)}")
    // the max pair count can never increase: a new pair touching the
    // merged symbol is bounded by the merge's own occurrence count
    assert(mt.sliding(2).forall { case Seq(a, b) => b._5 <= a._5; case _ => true },
      s"pair counts increased: ${mt.map(_._5)}")
    // a fully-merged pair can never regain adjacency, so no pair repeats
    assert(mt.map(m => (m._2, m._3)).distinct.size == mt.size, "repeated merge pair")
    // the frozen-table replay stays within the char/word token bounds
    val enc = TextAnalysis.bpeEncodedCounts(docs, mt.toDF("step", "lhs", "rhs", "merged", "n_pair"))
      .join(docs, Seq("doc_id"))
      .select($"n_words", $"n_bpe_tokens",
        length(regexp_replace($"text", " ", "")).cast("long").as("n_chars"))
      .as[(Long, Long, Long)].collect()
    assert(enc.forall(r => r._2 <= r._3 && r._2 >= r._1),
      s"token-count bounds broken at k=50")
  }

  test("BPE encode replays the frozen merge table (x161's inference face)") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "aaab aaab aab"), (2L, "xy xy")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMergeTable(docs)
    val out = TextAnalysis.bpeEncodedCounts(docs, merges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // "aaab": [a,a,a,b] -> [aa,a,b] -> [aa,ab] -> [aaab] = 1 token;
    // "aab": [a,a,b] -> [aa,b] (no adjacent (a,b) left) = 2 tokens
    assert(out(1L) == ((1L, 3L, 4L)), s"${out(1L)}")
    // "xy" never merges: 2 chars each
    assert(out(2L) == ((2L, 2L, 4L)), s"${out(2L)}")
    // corpus-wide sanity on real data: trained-vocab tokens are never
    // more than characters and never fewer than words
    val real = Tables.load(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"text").limit(50)
    val mt = TextAnalysis.bpeMergeTable(real)
    val enc = TextAnalysis.bpeEncodedCounts(real, mt)
      .join(real, Seq("doc_id"))
      .select($"n_words", $"n_bpe_tokens",
        length(regexp_replace($"text", " ", "")).cast("long").as("n_chars"))
      .as[(Long, Long, Long)].collect()
    assert(enc.forall(r => r._2 <= r._3 && r._2 >= r._1),
      s"token-count bounds broken: ${enc.find(r => !(r._2 <= r._3 && r._2 >= r._1))}")
  }

  test("x162 two-component PCA: deflation recovers the orthogonal second axis exactly") {
    import graft.operators.Similarity
    // two exactly-axis-aligned lobes with distinct variances: PC1 must
    // be e0 (spectral mass 2000 vs 320), PC2 after deflation must be e1
    val d = 6
    def axisVec(ax: Int, mag: Float) = {
      val a = Array.fill(d)(0.0f); a(ax) = mag; a.toSeq
    }
    val vecs =
      (0 until 20).map(k => (k.toLong,
        axisVec(0, if (k % 2 == 0) 10.0f else -10.0f), 0)) ++
      (20 until 40).map(k => (k.toLong,
        axisVec(1, if (k % 2 == 0) 4.0f else -4.0f), 1))
    val emb = vecs.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val out = Similarity.pcaProjection2(emb)
      .as[(Long, Int, Double, Double)].collect().map(r => r._1 -> r).toMap
    vecs.foreach { case (id, v, label) =>
      val (p1, p2) = (out(id)._3, out(id)._4)
      if (label == 0) {
        assert(p1 == v.head.toDouble && p2 == 0.0,
          s"e0-lobe vec $id: ($p1, $p2) expected (${v.head}, 0)")
      } else {
        assert(p1 == 0.0 && p2 == v(1).toDouble,
          s"e1-lobe vec $id: ($p1, $p2) expected (0, ${v(1)})")
      }
    }
  }

  test("x157 self-excision: repeated spans keep their first occurrence only") {
    import graft.operators.Dedup
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val docs = Seq(
      (1L, "h1 h2 h3 h4 a b c"),        // first occurrence of h1..h4: kept
      (2L, "x y h1 h2 h3 h4 z"),        // cross-doc repeat: cut
      (3L, "p q r s t"),                // first occurrence: kept
      (4L, "r1 r2 r3 r4 r1 r2 r3 r4"),  // WITHIN-doc repeat: second half cut
      (5L, "p q r s t"),                // exact copy of doc 3: fully cut
      (6L, null))                       // null text: absent (x151 contract)
      .toDF("doc_id", "text")
    val out = Dedup.selfExcise(docs)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 7L, 0L, md5("h1 h2 h3 h4 a b c"))), s"${out(1L)}")
    assert(out(2L) == ((2L, 7L, 4L, md5("x y z"))), s"${out(2L)}")
    assert(out(3L) == ((3L, 5L, 0L, md5("p q r s t"))), s"${out(3L)}")
    assert(out(4L) == ((4L, 8L, 4L, md5("r1 r2 r3 r4"))), s"${out(4L)}")
    assert(out(5L) == ((5L, 5L, 5L, md5(""))), s"${out(5L)}")
    assert(!out.contains(6L), "null-text doc emitted")
    // hashed-carrier form is row-identical (the x44 equivalence)
    val hashed = Dedup.selfExcise(docs, hashGrams = true)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(hashed == out, "hashGrams=true must not change the rewrite")
  }

  test("x170 catches a planted paraphrase the surface x169 probe provably misses") {
    // candidate 1 PARAPHRASES reference 100: same meaning (near-parallel
    // embeddings), ZERO shared word 3-grams — the SemDeDup failure class.
    // candidate 3 is semantically unrelated to everything (orthogonal-ish).
    val refTexts = Seq(
      (100L, "en", "the quick brown fox jumped over the lazy dog today"),
      (101L, "en", "completely different reference material about cooking pasta")
    ).toDF("doc_id", "lang", "text")
    val candTexts = Seq(
      (1L, "en", "a fast auburn canine leapt across one sleepy hound yesterday"),
      (3L, "en", "unrelated candidate chatter concerning quarterly tax filings")
    ).toDF("doc_id", "lang", "text")
    // the surface probe sees nothing: no shared grams at all
    assert(Dedup.crossNearDupProbe(candTexts, refTexts).count() == 0,
      "surface probe unexpectedly fired — the plant is not a pure paraphrase")
    // the semantic probe, under the reference-fit codebook, flags it
    val refVecs = Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    val candVecs = Seq(1L -> Array(0.99f, 0.01f), 3L -> Array(-0.7f, 0.7f))
      .toDF("vec_id", "embedding")
    val out = Similarity.crossSemProbe(candVecs, refVecs,
        k = 2, iters = 1, tau = 0.9)
      .select($"cand_id", $"n_dups", $"keep", $"best_ref_id")
      .as[(Long, Long, Long, Option[Long])].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1L, 0L, Some(100L))), s"${out(1L)}")
    assert(out(3L)._3 == 1L && out(3L)._4.isEmpty, s"${out(3L)}")
  }

  test("x170 probe against the persisted reference index equals the in-run fit") {
    val dir = tempDir("sem_ref_idx").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val isRef = $"vec_id" % 2 === 0
    val batch = Similarity.crossSemProbe(emb.filter(!isRef), emb.filter(isRef))
      .collect().map(_.toSeq).toSet
    assert(batch.exists(r => r(2).asInstanceOf[Long] > 0L),
      "no semantic hits at sf0.001 — vacuous round trip")
    Similarity.saveSemRefIndex(emb.filter(isRef), s"$dir/idx")
    val viaIdx = Similarity.semProbeAgainst(emb.filter(!isRef), s"$dir/idx")
      .collect().map(_.toSeq).toSet
    assert(viaIdx == batch,
      s"index drift: ${(batch -- viaIdx).take(3)} vs ${(viaIdx -- batch).take(3)}")
  }

  test("x171 incremental cross probe equals batch x169 — in-run and through the disk index") {
    // the oracle faces (same planted corpus, two strategies)
    val batch = Dedup.crossProbeQuery(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "no planted cross pairs — vacuous equality")
    val incr = Dedup.crossProbeIncrQuery(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(incr == batch,
      s"missing: ${(batch -- incr).take(3)}; extra: ${(incr -- batch).take(3)}")
    // disk round trip on the same split
    val (cand, ref) = Dedup.plantedCrossCorpus(
      Tables.load(spark, sf("sf0.001"), "documents"))
    val dir = tempDir("xprobe_idx").toString
    Dedup.saveCrossProbeIndex(ref, s"$dir/idx")
    val viaIdx = Dedup.crossProbeIndexed(cand, s"$dir/idx", maxDf = 100)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaIdx == batch,
      s"missing: ${(batch -- viaIdx).take(3)}; extra: ${(viaIdx -- batch).take(3)}")
  }

  test("x172 upsets are exactly the planted ladder's downhill wins; frozen artifact round-trips") {
    import graft.operators.Analytics
    val out = Analytics.btUpsetsQuery(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(out.nonEmpty)
    // the x167 ladder is ascending in the item id (spec-asserted there),
    // so the model expects the HIGHER item to win: every lower-item win
    // is an upset, every higher-item win is not, and p_win + p_loss = 1
    // is the complementary row's image
    out.foreach { case (id, w, l, p, u) =>
      assert(u == (if (w < l) 1L else 0L), s"cmp $id: winner $w loser $l upset $u")
      assert(p > 0.0 && p < 1.0, s"cmp $id: p_win $p")
    }
    assert(out.exists(_._5 == 1L) && out.exists(_._5 == 0L),
      "planted model produced no mix of upsets and expected wins")
    // frozen-ladder artifact round trip
    val cmp = Analytics.plantedComparisons(spark, sf("sf0.001"))
    val dir = tempDir("bt_ladder").toString
    Analytics.saveBtStrengths(cmp.select($"winner", $"loser"), s"$dir/l")
    val viaIdx = Analytics.btUpsetsAgainst(cmp,
        spark.read.parquet(graft.core.DeltaIndex.current(spark, s"$dir/l")
          + "/strengths"))
      .as[(Long, Long, Long, Double, Long)].collect().toSet
    assert(viaIdx == out.toSet, "frozen-ladder scoring drifted from in-run")
  }

  test("x174 acceptance report routes each tier to its verdict on a hand-built delivery") {
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val ref = Seq(
      (100L, "en", blk("alpha")), (101L, "en", blk("beta"))
    ).toDF("doc_id", "lang", "text")
    val refVecs = Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    val cand = Seq(
      (1L, "en", blk("alpha")),                      // EXACT copy -> reject
      (2L, "en", (1 to 11).map(i => s"beta$i")       // near-dup of 101
        .mkString(" ") + " changed"),                //   (9/11 Jaccard) -> review
      (3L, "en", "a fast auburn canine leapt " +     // PARAPHRASE: novel
        "across one sleepy hound yesterday"),        //   words, parallel vec
      (4L, "en", "quarterly tax filing chatter " +   // novel text AND
        "nobody has seen before")                    //   meaning -> admit
    ).toDF("doc_id", "lang", "text")
    val candVecs = Seq(
      // 1 and 2 land in ref-100's cluster but under tau (the exact and
      // surface tiers must fire ALONE); 3 is the sem-only paraphrase
      1L -> Array(0.55f, -0.84f), 2L -> Array(0.6f, -0.8f),
      3L -> Array(0.99f, 0.01f), 4L -> Array(-0.7f, 0.7f)
    ).toDF("vec_id", "embedding")
    val out = Dedup.acceptanceReport(cand, ref, candVecs, refVecs,
        k = 2, iters = 1, tau = 0.9)
      .select($"cand_id", $"exact_ref", $"n_surface", $"n_sem", $"verdict")
      .as[(Long, Option[Long], Long, Long, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, Some(100L), 1L, 0L, "reject")), s"${out(1L)}")
    assert(out(2L) == ((2L, None, 1L, 0L, "review")), s"${out(2L)}")
    assert(out(3L) == ((3L, None, 0L, 1L, "review")), s"${out(3L)}")
    assert(out(4L) == ((4L, None, 0L, 0L, "admit")), s"${out(4L)}")
  }

  test("x175 index append equals a full rebuild, and the next delivery probes identically") {
    val (cand, ref) = Dedup.plantedCrossCorpus(
      Tables.load(spark, sf("sf0.001"), "documents"))
    val d1 = cand.filter($"doc_id" % 2 === 0)
    val d2 = cand.filter($"doc_id" % 2 =!= 0)
    val dirA = tempDir("xappend_a").toString
    val dirB = tempDir("xappend_b").toString
    Dedup.saveCrossProbeIndex(ref, s"$dirA/idx")
    Dedup.appendToCrossProbeIndex(d1, s"$dirA/idx")
    val grown = ref.unionByName(d1)
    Dedup.saveCrossProbeIndex(grown, s"$dirB/idx")
    for (part <- Seq("grams", "df", "sizes")) {
      def read(d: String) = {
        val root = s"$d/idx"
        val raw = graft.core.DeltaIndex.read(spark, root,
          graft.core.DeltaIndex.latest(spark, root), part)
        // df is appendable since round 20: per-generation partial counts
        // whose read face is the per-gram sum — compare at that grain
        val df = if (part == "df")
          raw.groupBy($"gram").agg(sum($"df").as("df")) else raw
        df.collect().map(_.toSeq).toSet
      }
      assert(read(dirA) == read(dirB), s"$part drifted from the rebuild")
    }
    // O(delta) write shape: the append added ONE generation — the base
    // gram/size dirs are still generation-0 files, untouched (an
    // O(index) rewrite would have replaced them)
    val mA = graft.core.DeltaIndex.latest(spark, s"$dirA/idx")
    assert(mA.gen == 1L, s"expected one appended generation, got ${mA.gen}")
    assert(mA.parts("grams").head.startsWith("grams/g" + "0" * 19 + "-") &&
      mA.parts("grams").length == 2 &&
      mA.parts("grams")(1).startsWith("grams/g" + "0" * 18 + "1-"),
      s"grams dirs: ${mA.parts("grams")}")
    val viaAppend = Dedup.crossProbeIndexed(d2, s"$dirA/idx", maxDf = 100)
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = Dedup.crossNearDupProbe(d2, grown, maxDf = 100)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaAppend.nonEmpty, "no cross pairs after the append — vacuous")
    assert(viaAppend == batch,
      s"missing: ${(batch -- viaAppend).take(3)}; extra: ${(viaAppend -- batch).take(3)}")
    // double-ingest guard: replaying the same delivery must fail fast
    // BEFORE the commit, leaving the index untouched
    def sizesNow() = {
      val root = s"$dirA/idx"
      graft.core.DeltaIndex.read(spark, root,
        graft.core.DeltaIndex.latest(spark, root), "sizes")
        .collect().map(_.toSeq).toSet
    }
    val before = sizesNow()
    intercept[IllegalArgumentException] {
      Dedup.appendToCrossProbeIndex(d1, s"$dirA/idx")
    }
    assert(sizesNow() == before, "a refused append still mutated the index")
  }

  test("x175 appends are O(delta): old gram/list files are NEVER READ during maintenance") {
    // deterministic never-read gate: every parquet file of the base
    // generation is overwritten with garbage BEFORE the append — any
    // code path that opens one (footer read, schema merge, union
    // rewrite) throws, so a succeeding append PROVES the old data files
    // went untouched. (The old design's oldGrams.unionByName(delta)
    // rewrite fails this instantly.)
    def corrupt(dir: String): Int = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toList
      files.foreach(p => java.nio.file.Files.write(p,
        "NOTPARQUET".getBytes("UTF-8")))
      files.size
    }
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    // cross-probe index: grams/g0 corrupted, append must still land
    val dir = tempDir("xappend_noread").toString
    val ref = Seq((100L, "en", blk("one")), (101L, "en", blk("two")))
      .toDF("doc_id", "lang", "text")
    Dedup.saveCrossProbeIndex(ref, s"$dir/idx")
    assert(corrupt(s"$dir/idx/grams") > 0, "no base gram files to corrupt")
    Dedup.appendToCrossProbeIndex(
      Seq((1L, "en", blk("three"))).toDF("doc_id", "lang", "text"),
      s"$dir/idx")
    assert(graft.core.DeltaIndex.latest(spark, s"$dir/idx").gen == 1L)
    // semantic index: lists/g0 corrupted (embedding payloads); the
    // guard runs on the ids metadata part, assignment on the codebook
    val semDir = tempDir("sem_noread").toString
    val semRef = Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    Similarity.saveSemRefIndex(semRef, s"$semDir/idx", k = 2, iters = 1)
    assert(corrupt(s"$semDir/idx/lists") > 0, "no base list files to corrupt")
    val gen = Similarity.appendToSemRefIndex(
      Seq(10L -> Array(0.7f, 0.71f)).toDF("vec_id", "embedding"),
      s"$semDir/idx")
    assert(gen == 1L)
    // and the drift check reads only codebook + ids — never a list file
    val drift = Similarity.semIndexDriftCheck(
      Seq(20L -> Array(0.9f, 0.1f)).toDF("vec_id", "embedding"),
      s"$semDir/idx")
    assert(drift.count() == 2L)
  }

  test("x175 params are pinned in the manifest: a mismatched append or probe fails fast") {
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val dir = tempDir("xparams").toString
    val ref = Seq((100L, "en", blk("one"))).toDF("doc_id", "lang", "text")
    Dedup.saveCrossProbeIndex(ref, s"$dir/idx", n = 3, hashGrams = false)
    val d1 = Seq((1L, "en", blk("two"))).toDF("doc_id", "lang", "text")
    // hashed-gram append into a raw-gram index would silently mix the
    // two key spaces — the corruption no double-ingest guard can see
    intercept[IllegalArgumentException] {
      Dedup.appendToCrossProbeIndex(d1, s"$dir/idx", hashGrams = true)
    }
    intercept[IllegalArgumentException] {
      Dedup.appendToCrossProbeIndex(d1, s"$dir/idx", n = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.crossProbeIndexed(d1, s"$dir/idx", n = 2, maxDf = 100).collect()
    }
    assert(graft.core.DeltaIndex.latest(spark, s"$dir/idx").gen == 0L,
      "a refused mismatch still committed a generation")
    // the matching probe still works
    Dedup.appendToCrossProbeIndex(d1, s"$dir/idx")
  }

  test("x175 semantic append: the codebook stays frozen and a later paraphrase of an admitted doc is caught") {
    val dir = tempDir("sem_append").toString
    val ref = Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    Similarity.saveSemRefIndex(ref, s"$dir/idx", k = 2, iters = 1)
    def codebook() = {
      val root = s"$dir/idx"
      graft.core.DeltaIndex.read(spark, root,
        graft.core.DeltaIndex.latest(spark, root), "codebook")
        .collect().map(_.toSeq).toSet
    }
    val frozen = codebook()
    // d2's vec 20 paraphrases d1's vec 10 (cos ~0.9998) but clears
    // NEITHER original reference at tau=0.9 — before the append it must
    // pass, after it must be flagged with vec 10 as the best match
    val d1 = Seq(10L -> Array(0.70f, 0.71f)).toDF("vec_id", "embedding")
    val d2 = Seq(20L -> Array(0.69f, 0.72f)).toDF("vec_id", "embedding")
    def probe() = Similarity.semProbeAgainst(d2, s"$dir/idx", tau = 0.9)
      .select($"cand_id", $"n_dups", $"keep", $"best_ref_id")
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(probe() == Seq((20L, 0L, 1L, None)), s"pre-append: ${probe()}")
    Similarity.appendToSemRefIndex(d1, s"$dir/idx")
    assert(codebook() == frozen,
      "maintenance refit the codebook — that is a rebuild, not an append")
    assert(probe() == Seq((20L, 1L, 0L, Some(10L))), s"post-append: ${probe()}")
    // replaying the same delivery must fail fast (double-ingest guard)
    intercept[IllegalArgumentException] {
      Similarity.appendToSemRefIndex(d1, s"$dir/idx")
    }
    assert(probe() == Seq((20L, 1L, 0L, Some(10L))),
      "a refused append changed the probe verdict")
  }

  test("x175 a crashed append stays invisible and its retry lands") {
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val dir = tempDir("xappend_crash").toString
    val ref = Seq((100L, "en", blk("one")), (101L, "en", blk("two")))
      .toDF("doc_id", "lang", "text")
    Dedup.saveCrossProbeIndex(ref, s"$dir/idx")
    // simulate an append that crashed after its delta write, before its
    // commit: the delta dirs exist and no manifest names them
    val m0 = graft.core.DeltaIndex.latest(spark, s"$dir/idx")
    val d1 = Seq((1L, "en", blk("three"))).toDF("doc_id", "lang", "text")
    Dedup.writeCrossDelta(d1, s"$dir/idx", m0, m0.gen + 1, 3, hashGrams = false)
    def sizes() = graft.core.DeltaIndex.read(spark, s"$dir/idx",
        graft.core.DeltaIndex.latest(spark, s"$dir/idx"), "sizes")
      .select($"doc_id").as[Long].collect().toSet
    assert(sizes() == Set(100L, 101L), "a reader saw the uncommitted append")
    // the retry writes its own attempt dirs and commits them
    Dedup.appendToCrossProbeIndex(d1, s"$dir/idx")
    assert(sizes() == Set(100L, 101L, 1L), s"got ${sizes()}")
    assert(new java.io.File(dir).list().toSeq == Seq("idx"),
      "something was written beside the root")
  }

  test("x176 per-doc rarity is the deliberate boundary vs x174: a delivery-flooded gram still gates") {
    // ONE reference doc; THREE identical near-copies arrive in one
    // delivery. At maxDf=3 the union df of every shared gram is 4
    // (1 ref + 3 cands) -> batch x174's miner prunes them all; the
    // per-doc gate sees frozen-df 1 + 1 = 2 <= 3 -> each doc gates.
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val ref = Seq((100L, "en", blk("flood"))).toDF("doc_id", "lang", "text")
    val cand = Seq(1L, 2L, 3L)
      .map(i => (i, "en", (1 to 11).map(j => s"flood$j").mkString(" ") + " tail"))
      .toDF("doc_id", "lang", "text")
    assert(Dedup.crossNearDupProbe(cand, ref, maxDf = 3).count() == 0,
      "union-df form unexpectedly kept the flooded grams")
    val refGrams = ref.select($"doc_id", $"lang",
      explode(Dedup.wordShingles($"text", 3)).as("gram"))
    val emptySem = Seq.empty[(Long, Long)].toDF("cand_id", "n_sem")
    val out = Dedup.acceptanceGateAgainst(cand,
        ref.groupBy($"text").agg(min($"doc_id").as("exact_ref")),
        refGrams,
        refGrams.groupBy($"gram").agg(count(lit(1)).as("df")),
        refGrams.groupBy($"doc_id").agg(count(lit(1)).as("n")),
        emptySem, maxDf = 3)
      .select($"cand_id", $"n_surface", $"verdict")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L, "review"), (2L, 1L, "review"),
      (3L, 1L, "review")), s"got ${out.toSeq}")
  }

  test("x176 through the persisted acceptance index routes the four-class delivery like x174") {
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val ref = Seq(
      (100L, "en", blk("alpha")), (101L, "en", blk("beta"))
    ).toDF("doc_id", "lang", "text")
    val refVecs = Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    val cand = Seq(
      (1L, "en", blk("alpha"), Seq(0.55f, -0.84f)),
      (2L, "en", (1 to 11).map(i => s"beta$i").mkString(" ") + " changed",
        Seq(0.6f, -0.8f)),
      (3L, "en", "a fast auburn canine leapt across one sleepy hound " +
        "yesterday", Seq(0.99f, 0.01f)),
      (4L, "en", "quarterly tax filing chatter nobody has seen before",
        Seq(-0.7f, 0.7f))
    ).toDF("doc_id", "lang", "text", "embedding")
    val dir = tempDir("accept_idx").toString
    Dedup.saveAcceptanceIndex(ref, refVecs, s"$dir/idx", k = 2, iters = 1)
    val out = Dedup.acceptanceGateIndexed(cand, s"$dir/idx", tau = 0.9)
      .select($"cand_id", $"exact_ref", $"n_surface", $"n_sem", $"verdict")
      .as[(Long, Option[Long], Long, Long, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, Some(100L), 1L, 0L, "reject")), s"${out(1L)}")
    assert(out(2L) == ((2L, None, 1L, 0L, "review")), s"${out(2L)}")
    assert(out(3L) == ((3L, None, 0L, 1L, "review")), s"${out(3L)}")
    assert(out(4L) == ((4L, None, 0L, 0L, "admit")), s"${out(4L)}")
  }

  test("x175 battery append: one commit flips every tier, and the next delivery gates against the grown battery") {
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val ref = Seq((100L, "en", blk("alpha"))).toDF("doc_id", "lang", "text")
    val refVecs = Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    val dir = tempDir("accept_append").toString
    Dedup.saveAcceptanceIndex(ref, refVecs, s"$dir/idx", k = 2, iters = 1)
    // delivery 1: a new text + a vector matching NO reference at tau=.9
    val d1 = Seq((10L, "en", blk("gamma"))).toDF("doc_id", "lang", "text")
    val v1 = Seq(10L -> Array(0.70f, 0.71f)).toDF("vec_id", "embedding")
    Dedup.appendToAcceptanceIndex(d1, v1, s"$dir/idx")
    val m = graft.core.DeltaIndex.latest(spark, s"$dir/idx")
    assert(m.gen == 1L && m.params("semGen") == "1", s"$m")
    // delivery 2 probes the GROWN battery: exact copy of d1's text ->
    // reject against 10; near-copy -> surface review; paraphrase of
    // v1's vector -> semantic review; novel -> admit
    val d2 = Seq(
      (20L, "en", blk("gamma"), Seq(0.5f, -0.87f)),
      (21L, "en", (1 to 11).map(i => s"gamma$i").mkString(" ") + " changed",
        Seq(0.55f, -0.84f)),
      (22L, "en", "entirely novel content about quarterly tax chatter",
        Seq(0.69f, 0.72f)),
      (23L, "en", "still more novel words nobody indexed anywhere",
        Seq(-0.7f, 0.7f))
    ).toDF("doc_id", "lang", "text", "embedding")
    val out = Dedup.acceptanceGateIndexed(d2, s"$dir/idx", tau = 0.9)
      .select($"cand_id", $"exact_ref", $"n_surface", $"n_sem", $"verdict")
      .as[(Long, Option[Long], Long, Long, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(20L) == ((20L, Some(10L), 1L, 0L, "reject")), s"${out(20L)}")
    assert(out(21L) == ((21L, None, 1L, 0L, "review")), s"${out(21L)}")
    assert(out(22L) == ((22L, None, 0L, 1L, "review")), s"${out(22L)}")
    assert(out(23L) == ((23L, None, 0L, 0L, "admit")), s"${out(23L)}")
    // double-ingest guard holds at the battery grain too
    intercept[IllegalArgumentException] {
      Dedup.appendToAcceptanceIndex(d1, v1, s"$dir/idx")
    }
  }

  test("x175 battery append crash window heals on retry: sem committed, battery not") {
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val ref = Seq((100L, "en", blk("alpha"))).toDF("doc_id", "lang", "text")
    val refVecs = Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    val dir = tempDir("accept_crash").toString
    Dedup.saveAcceptanceIndex(ref, refVecs, s"$dir/idx", k = 2, iters = 1)
    val d1 = Seq((10L, "en", blk("gamma"))).toDF("doc_id", "lang", "text")
    val v1 = Seq(10L -> Array(0.70f, 0.71f)).toDF("vec_id", "embedding")
    // simulate the crash: the sem sub-append landed, the battery
    // manifest did not — gates still pin semGen=0 (old snapshot)
    assert(Similarity.appendToSemRefIndex(v1, s"$dir/idx/sem") == 1L)
    assert(graft.core.DeltaIndex.latest(spark, s"$dir/idx")
      .params("semGen") == "0")
    // the RETRY detects sem's unpinned generation is exactly this
    // delivery, skips the sem append, and commits the battery
    Dedup.appendToAcceptanceIndex(d1, v1, s"$dir/idx")
    val m = graft.core.DeltaIndex.latest(spark, s"$dir/idx")
    assert(m.gen == 1L && m.params("semGen") == "1", s"$m")
    assert(graft.core.DeltaIndex.latest(spark, s"$dir/idx/sem").gen == 1L,
      "the heal re-appended the sem delivery (double ingest)")
    // a FOREIGN unpinned sem generation refuses instead of healing
    val dir2 = tempDir("accept_foreign").toString
    Dedup.saveAcceptanceIndex(ref, refVecs, s"$dir2/idx", k = 2, iters = 1)
    Similarity.appendToSemRefIndex(
      Seq(77L -> Array(0.1f, 0.9f)).toDF("vec_id", "embedding"),
      s"$dir2/idx/sem")
    intercept[IllegalArgumentException] {
      Dedup.appendToAcceptanceIndex(d1, v1, s"$dir2/idx")
    }
  }

  test("kmeans fit memo: identical file-backed inputs reuse the codebook; rewritten inputs never alias") {
    import graft.operators.Similarity
    val dir = tempDir("fitmemo").toString
    Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 1f), 2L -> Array(1f, 0.01f),
      3L -> Array(0.01f, 1f))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/v")
    def fit() = Similarity.kmeans(spark.read.parquet(s"$dir/v"), k = 2,
      iters = 1).collect().map(_.toSeq).toSeq
    val before = Similarity.fitComputes.get()
    val first = fit()
    assert(Similarity.fitComputes.get() == before + 1)
    // identical input files: the memo serves the codebook, results equal
    assert(fit() == first)
    assert(Similarity.fitComputes.get() == before + 1,
      "a memo hit re-ran the Lloyd jobs")
    // the SAME path rewritten with different data must recompute — the
    // key carries the file inventory
    Seq(0L -> Array(0.6f, 0.8f), 1L -> Array(0.8f, 0.6f))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/v")
    val second = fit()
    assert(Similarity.fitComputes.get() == before + 2,
      "a rewritten input aliased a stale codebook")
    assert(second != first)
    // in-memory frames carry no immutability contract: never memoized
    val local = Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    val b2 = Similarity.fitComputes.get()
    Similarity.kmeans(local, k = 2, iters = 1).collect()
    Similarity.kmeans(local, k = 2, iters = 1).collect()
    assert(Similarity.fitComputes.get() == b2 + 2)
  }

  test("x178 rebuild recovers the recall drift cost: a crowded boundary re-clusters from index files alone") {
    import graft.operators.Similarity
    val dir = tempDir("sem_rebuild").toString
    // reference: anchors along (1,0) and (0,1); frozen k=2 codebook
    val ref = Seq(
      0L -> Array(1f, 0f), 2L -> Array(1f, 0.01f), 4L -> Array(1f, -0.01f),
      1L -> Array(0f, 1f), 3L -> Array(0.01f, 1f), 5L -> Array(-0.01f, 1f)
    ).toDF("vec_id", "embedding")
    Similarity.saveSemRefIndex(ref, s"$dir/idx", k = 2, iters = 1)
    // a NEW data direction (50deg) arrives and is admitted; the frozen
    // codebook files it into the (0,1) cluster
    val d1 = Seq(10L -> Array(0.64279f, 0.76604f),
      11L -> Array(0.643f, 0.766f), 12L -> Array(0.6428f, 0.766f))
      .toDF("vec_id", "embedding")
    Similarity.appendToSemRefIndex(d1, s"$dir/idx")
    // a candidate at 41deg paraphrases the appended mass (cos(9deg)
    // ~.9877) but assigns to the (1,0) cluster — rank-1 probe misses
    val cand = Seq(100L -> Array(0.75471f, 0.65606f))
      .toDF("vec_id", "embedding")
    def probe() = Similarity.semProbeAgainst(cand, s"$dir/idx", tau = 0.98)
      .select($"cand_id", $"n_dups", $"keep")
      .as[(Long, Long, Long)].collect().toSeq
    assert(probe() == Seq((100L, 0L, 1L)), s"pre-rebuild: ${probe()}")
    // the drift check is the trigger: the delivery-shaped recent sample
    // piles into one cluster of the stale codebook
    val recent = (0 until 12).map(i => (1000L + i, Array(0.6428f, 0.766f)))
      .toDF("vec_id", "embedding")
    val pre = Similarity.semIndexDriftCheck(recent, s"$dir/idx")
      .select($"rebuild").as[Long].collect()
    assert(pre.forall(_ == 1L), s"drift not flagged: ${pre.toSeq}")
    // rebuild from the index's own lists, with k raised for the new mass
    Similarity.rebuildSemRefIndex(spark, s"$dir/idx", k = 3, iters = 2)
    assert(probe() == Seq((100L, 3L, 0L)),
      s"post-rebuild the paraphrases must co-cluster: ${probe()}")
    assert(graft.core.DeltaIndex.latest(spark, s"$dir/idx").gen == 2L,
      "a rebuild commits the next generation (build 0, append 1, rebuild 2)")
    assert(new java.io.File(dir).list().toSeq == Seq("idx"),
      "the rebuild wrote beside the root")
  }

  test("processDelivery composes the loop: gate, drift, O(delta) ingest, ledger — over three deliveries") {
    import graft.operators.Similarity
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    def dlv(rows: (Long, String, Array[Float])*) =
      rows.map { case (id, t, e) => (id, "en", t, e) }
        .toDF("doc_id", "lang", "text", "embedding")
    val dir = tempDir("delivery_loop").toString
    val (idx, led) = (s"$dir/idx", s"$dir/led")
    Dedup.saveAcceptanceIndex(
      Seq((100L, "en", blk("alpha")), (101L, "en", blk("beta")))
        .toDF("doc_id", "lang", "text"),
      Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
        .toDF("vec_id", "embedding"),
      idx, k = 2, iters = 1)
    // delivery 1: one novel doc (admit), one exact copy of the
    // reference (reject)
    val o1 = Dedup.processDelivery(
      dlv((1L, blk("gamma"), Array(0.70f, 0.71f)),
        (2L, blk("alpha"), Array(0.9f, 0.1f))),
      idx, led, maxDf = 100, tau = 0.9)
    assert(o1.admitted == 1L && o1.batteryGen == Some(1L) && o1.ledgerGen == 0L)
    assert(o1.drift.count() == 2L)
    val v1 = o1.report.select($"cand_id", $"verdict")
      .as[(Long, String)].collect().toMap
    assert(v1 == Map(1L -> "admit", 2L -> "reject"), v1)
    // delivery 2: a copy of delivery 1's ADMITTED doc must now reject —
    // the loop actually closed; plus one more novel admit
    val o2 = Dedup.processDelivery(
      dlv((11L, blk("gamma"), Array(0.99f, 0.01f)),
        (12L, blk("delta"), Array(-0.70f, 0.70f))),
      idx, led, maxDf = 100, tau = 0.9)
    val v2 = o2.report.select($"cand_id", $"verdict", $"exact_ref")
      .as[(Long, String, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(v2(11L) == ((11L, "reject", Some(1L))), v2)
    assert(v2(12L) == ((12L, "admit", None)), v2)
    assert(o2.admitted == 1L && o2.batteryGen == Some(2L) && o2.ledgerGen == 1L)
    // the ledger now diffs delivery 2 against delivery 1
    val diff = Dedup.acceptanceLedgerLatest(spark, led)
      .select($"verdict", $"n_prev", $"n_curr")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(diff("admit") == (("admit", 1L, 1L)), diff)
    assert(diff("reject") == (("reject", 1L, 1L)), diff)
    // delivery 3: everything already known — no battery churn, but the
    // report still lands in the ledger
    val o3 = Dedup.processDelivery(
      dlv((21L, blk("gamma"), Array(0.7f, 0.71f)),
        (22L, blk("delta"), Array(-0.7f, 0.7f))),
      idx, led, maxDf = 100, tau = 0.9)
    assert(o3.admitted == 0L && o3.batteryGen == None && o3.ledgerGen == 2L)
    assert(graft.core.DeltaIndex.latest(spark, idx).gen == 2L,
      "an all-rejected delivery must not advance the battery")
  }

  test("x180 the runner-up cluster catches the Voronoi-boundary paraphrase nProbe=1 structurally misses") {
    import graft.operators.Similarity
    val dir = tempDir("sem_budget").toString
    // unit-circle geometry (degrees): cluster anchors at 40 (x2) and 52
    // (x2); reference 102 at 45.8 assigns WITH the 40-side (its pull
    // moves that centroid to ~41.9, midline ~47.0). The candidate at
    // 47.2 paraphrases 102 (cos(1.4deg) ~ .9997 >= tau) yet assigns
    // across the midline to the 52-cluster, whose own references sit
    // 4.8deg away (cos ~ .9965 < tau) — the exact Voronoi-boundary miss.
    val ref = Seq(
      100L -> Array(0.76604f, 0.64279f), 103L -> Array(0.76604f, 0.64279f),
      101L -> Array(0.61566f, 0.78801f), 104L -> Array(0.61566f, 0.78801f),
      102L -> Array(0.69717f, 0.71690f)).toDF("vec_id", "embedding")
    Similarity.saveSemRefIndex(ref, s"$dir/idx", k = 2, iters = 1)
    val cand = Seq(10L -> Array(0.67944f, 0.73373f)).toDF("vec_id", "embedding")
    def run(nProbe: Int) = Similarity
      .semProbeBudget(cand, s"$dir/idx", nProbe, tau = 0.9995)
      .select($"cand_id", $"n_dups", $"keep", $"best_ref_id")
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(run(1) == Seq((10L, 0L, 1L, None)), s"nProbe=1: ${run(1)}")
    assert(run(2) == Seq((10L, 1L, 0L, Some(102L))), s"nProbe=2: ${run(2)}")
  }

  test("x180 nProbe=1 equals the rank-1 probe, and the in-run face equals the disk path") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val isRef = $"vec_id" % 2 === 0
    val dir = tempDir("sem_budget_idx").toString
    Similarity.saveSemRefIndex(emb.filter(isRef), s"$dir/idx")
    val cands = emb.filter(!isRef)
    val one = Similarity.semProbeBudget(cands, s"$dir/idx", nProbe = 1)
      .collect().map(_.toSeq).toSet
    val rank1 = Similarity.semProbeAgainst(cands, s"$dir/idx")
      .collect().map(_.toSeq).toSet
    assert(one.nonEmpty && one == rank1,
      "nProbe=1 must be column-identical to the rank-1 probe")
    val disk = Similarity.semProbeBudget(cands, s"$dir/idx")
      .collect().map(_.toSeq).toSet
    val inRun = Similarity.crossSemProbeBudgetQuery(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSet
    assert(disk.nonEmpty && disk == inRun)
    // widening the budget can only ADD recall: every rank-1 duplicate
    // verdict survives at nProbe=2
    val caught1 = rank1.filter(r => r(3) == 0L).map(_.head)
    val caught2 = disk.filter(r => r(3) == 0L).map(_.head)
    assert(caught1.subsetOf(caught2))
  }

  test("x181 tier attribution splits the report by cause, verdict consistent with the shared CASE") {
    val report = Seq(
      (1L, Some(100L), 1L, 0L, "reject"),  // exact + surface
      (2L, None, 1L, 0L, "review"),        // surface only
      (3L, None, 0L, 1L, "review"),        // sem only
      (4L, None, 0L, 0L, "admit")          // clean
    ).toDF("cand_id", "exact_ref", "n_surface", "n_sem", "verdict")
    val out = Dedup.acceptanceTierBreakdown(report)
      .orderBy($"exact", $"surface", $"sem")
      .as[(Long, Long, Long, String, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, 0L, "admit", 1L, 0.25),
      (0L, 0L, 1L, "review", 1L, 0.25),
      (0L, 1L, 0L, "review", 1L, 0.25),
      (1L, 1L, 0L, "reject", 1L, 0.25)), out)
  }

  test("x179 ledger diff flags a shifted verdict mix and stays quiet on a stable one") {
    // stable: both deliveries mostly admit with the same review tail
    val g1 = Seq((1L, "admit"), (2L, "admit"), (3L, "admit"), (4L, "review"))
      .toDF("cand_id", "verdict")
    val g2 = Seq((11L, "admit"), (12L, "admit"), (13L, "admit"), (14L, "review"))
      .toDF("cand_id", "verdict")
    val stable = Dedup.acceptanceLedgerDiff(g1, g2)
      .select($"verdict", $"n_prev", $"n_curr", $"delta", $"shifted")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(stable("admit") == (("admit", 3L, 3L, 0L, 0L)), stable)
    assert(stable("reject") == (("reject", 0L, 0L, 0L, 0L)),
      "missing verdict classes must appear with zero counts")
    // shifted: the next delivery flips to rejects — psi must trip
    val g3 = Seq((21L, "reject"), (22L, "reject"), (23L, "reject"),
      (24L, "review")).toDF("cand_id", "verdict")
    val shifted = Dedup.acceptanceLedgerDiff(g2, g3)
      .select($"shifted", $"psi").as[(Long, Double)].collect()
    assert(shifted.forall(_._1 == 1L), s"shift not flagged: ${shifted.toSeq}")
    assert(shifted.map(_._2).distinct.length == 1)
  }

  test("x179 persisted ledger: per-delivery generations round-trip and diff like the in-run form") {
    val dir = tempDir("ledger").toString
    def rep(ids: Seq[Long], verdicts: Seq[String]) =
      ids.zip(verdicts).map { case (id, v) =>
        (id, None: Option[Long], 0L, 0L, v) }
        .toDF("cand_id", "exact_ref", "n_surface", "n_sem", "verdict")
    val r1 = rep(Seq(1L, 2L, 3L), Seq("admit", "admit", "review"))
    val r2 = rep(Seq(11L, 12L, 13L), Seq("admit", "reject", "reject"))
    // one generation is not a diffable ledger yet
    assert(Dedup.appendAcceptanceLedger(r1, s"$dir/led") == 0L)
    intercept[IllegalArgumentException] {
      Dedup.acceptanceLedgerLatest(spark, s"$dir/led")
    }
    assert(Dedup.appendAcceptanceLedger(r2, s"$dir/led") == 1L)
    val viaDisk = Dedup.acceptanceLedgerLatest(spark, s"$dir/led")
      .collect().map(_.toSeq).toSet
    val inRun = Dedup.acceptanceLedgerDiff(r1, r2)
      .collect().map(_.toSeq).toSet
    assert(viaDisk.nonEmpty && viaDisk == inRun)
    // a third delivery diffs against the SECOND, and generation dirs
    // stay immutable (the full audit trail survives)
    val r3 = rep(Seq(21L), Seq("admit"))
    assert(Dedup.appendAcceptanceLedger(r3, s"$dir/led") == 2L)
    val after = Dedup.acceptanceLedgerLatest(spark, s"$dir/led")
      .collect().map(_.toSeq).toSet
    assert(after == Dedup.acceptanceLedgerDiff(r2, r3)
      .collect().map(_.toSeq).toSet)
    assert(graft.core.DeltaIndex.latest(spark, s"$dir/led")
      .dirs("reports").length == 3)
  }

  test("x178 planted drift flips the rebuild verdict; a same-distribution sample does not") {
    import graft.operators.Similarity
    // reference: two tight clusters around e1 and e2, 8 vectors each;
    // interleaved ids so the k-smallest-ids init lands one centroid in
    // each family (0 -> (1,0), 1 -> (0,1))
    val ref = ((0 until 8).map(i => ((i * 2).toLong, Array(1f, 0.01f * i))) ++
      (0 until 8).map(i => ((i * 2 + 1).toLong, Array(0.01f * i, 1f))))
      .toDF("vec_id", "embedding")
    val dir = tempDir("sem_drift").toString
    Similarity.saveSemRefIndex(ref, s"$dir/idx", k = 2, iters = 2)
    // same-distribution recent sample: balanced across both clusters
    val calm = ((0 until 6).map(i => (1000L + i, Array(1f, 0.02f * i))) ++
      (0 until 6).map(i => (2000L + i, Array(0.02f * i, 1f))))
      .toDF("vec_id", "embedding")
    val calmOut = Similarity.semIndexDriftCheck(calm, s"$dir/idx")
      .select($"rebuild", $"psi").as[(Long, Double)].collect()
    assert(calmOut.forall(_._1 == 0L),
      s"same-distribution sample flagged a rebuild: ${calmOut.toSeq}")
    // drifted sample: everything piles into ONE cluster
    val drifted = (0 until 12).map(i => (3000L + i, Array(1f, 0.01f * i)))
      .toDF("vec_id", "embedding")
    val driftOut = Similarity.semIndexDriftCheck(drifted, s"$dir/idx")
      .select($"rebuild", $"psi").as[(Long, Double)].collect()
    assert(driftOut.forall(_._1 == 1L),
      s"piled-up sample did not flag a rebuild: ${driftOut.toSeq}")
    assert(driftOut.head._2 > calmOut.head._2)
    // verdict columns are consistent on every row (the 1-row-total join)
    assert(driftOut.map(_._2).distinct.length == 1)
  }

  test("x178 indexed drift check equals the in-run form on the corpus split") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val isRef = $"vec_id" % 2 === 0
    val dir = tempDir("sem_drift_idx").toString
    Similarity.saveSemRefIndex(emb.filter(isRef), s"$dir/idx")
    val viaIdx = Similarity.semIndexDriftCheck(emb.filter(!isRef), s"$dir/idx")
      .collect().map(_.toSeq).toSet
    val inRun = Similarity.semDriftQuery(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSet
    assert(viaIdx.nonEmpty && viaIdx == inRun)
  }

  test("x177 calibration audit matches a hand-computed reliability table and ECE") {
    import graft.operators.Analytics
    val preds = Seq(
      (0.2, 1L), (0.3, 0L),            // bin 0: avg_conf .25, acc .5
      (0.8, 1L), (0.9, 1L), (1.0, 0L)  // bin 1 (1.0 clamps in): .9, 2/3
    ).toDF("conf", "correct")
    val out = Analytics.calibrationAudit(preds, bins = 2)
      .orderBy($"bin")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq(
      // summary: n-weighted means of the round-6 per-bin images
      (-1L, 5L, 0.64, 0.6, 0.24),
      (0L, 2L, 0.25, 0.5, 0.25),
      (1L, 3L, 0.9, 0.666667, 0.233333)), s"got $out")
  }

  test("x177 out-of-range conf clamps into the edge bins — never the bin=-1 ECE sentinel") {
    import graft.operators.Analytics
    // a garbage conf < 0 must fold into bin 0 (symmetric with the
    // conf==1.0 top-bin clamp), NOT land at bin <= -1 where it would
    // collide with calibrationAudit's summary-row sentinel
    val preds = Seq((-0.3, 0L), (1.7, 1L), (0.5, 1L)).toDF("conf", "correct")
    val bins = Analytics.calibrationBins(preds, bins = 2)
      .select($"bin").as[Long].collect().toSet
    assert(bins == Set(0L, 1L), s"got $bins")
    val audit = Analytics.calibrationAudit(preds, bins = 2)
      .groupBy($"bin").count().as[(Long, Long)].collect().toMap
    assert(audit(-1L) == 1L, s"duplicate summary sentinel rows: $audit")
  }

  test("x173 packs at the sweep winner: choice, conservation, and padding recovery") {
    import graft.operators.{DocPrep, Sampling}
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    // the winner is the constrained argmax, recomputed by hand
    val sweep = DocPrep.contextSweep(docs)
      .select($"max_len", $"tokens_kept", $"pad_tokens", $"drop_rate", $"util")
      .as[(Long, Long, Long, Double, Double)].collect()
    val eligible = sweep.filter(_._4 <= Sampling.PackWinnerMaxDrop)
    assert(eligible.nonEmpty)
    val byHand = eligible.sortBy(r => (-r._5, r._1)).head
    assert(Sampling.sweepWinner(docs) == byHand._1)
    val packed = Sampling.packAtSweepWinner(docs)
      .select($"n_tokens", $"pack_id", $"max_len")
      .as[(Long, Long, Long)].collect()
    val l = byHand._1
    assert(packed.forall(_._3 == l))
    // conservation: packing moves padding, never data — the packed
    // token mass IS the sweep's tokens_kept at the winner
    assert(packed.map(_._1).sum == byHand._2,
      s"kept-token mass drifted: ${packed.map(_._1).sum} vs ${byHand._2}")
    // padding recovery: the packed regime's total padding (bins filled
    // to L) never exceeds the one-doc-per-slot pad_tokens the sweep
    // priced — `util` priced exactly what packing recovers
    val binPad = packed.groupBy(_._2).values
      .map(docsInBin => math.max(0L, l - docsInBin.map(_._1).sum)).sum
    assert(binPad <= byHand._3,
      s"packed padding $binPad exceeds the sweep's predicted ${byHand._3}")
    // and it genuinely recovers: strictly fewer slots than one-per-doc
    assert(packed.map(_._2).distinct.length < packed.length)
  }

  // ------------------- round-19 maintenance hardening -------------------

  test("append race: a writer that loses the commit cannot clobber the winner's committed data") {
    // ADVICE r18: with deterministic delta-dir names, two appenders that
    // resolved the same base manifest wrote (mode overwrite) into the
    // SAME gen+1 dirs before either committed — the loser then replaced
    // the winner's committed "immutable" data and only afterwards failed
    // at commit. Unique per-attempt dirs make the loss harmless; this
    // replays the exact interleaving.
    val (cand, ref) = Dedup.plantedCrossCorpus(
      Tables.load(spark, sf("sf0.001"), "documents"))
    val dA = cand.filter($"doc_id" % 2 === 0)
    val dB = cand.filter($"doc_id" % 2 =!= 0)
    val dir = tempDir("xrace").toString
    Dedup.saveCrossProbeIndex(ref, s"$dir/idx")
    val root = s"$dir/idx"
    // both writers resolve the SAME base manifest...
    val m0 = graft.core.DeltaIndex.latest(spark, root)
    // ...writer A wins: full append commits generation 1
    Dedup.appendToCrossProbeIndex(dA, s"$dir/idx")
    def probe() = Dedup.crossProbeIndexed(dB, s"$dir/idx", maxDf = 100)
      .collect().map(_.toSeq).toSet
    val afterWinner = probe()
    assert(afterWinner.nonEmpty, "no cross pairs after the winning append")
    // ...writer B (stale manifest) writes its delta dirs, then loses the
    // commit race loudly
    val loserParts = Dedup.writeCrossDelta(dB, root, m0, m0.gen + 1, 3,
      hashGrams = false)
    intercept[java.io.IOException] {
      graft.core.DeltaIndex.commit(spark, root,
        graft.core.DeltaIndex.Manifest(m0.gen + 1, m0.params,
          m0.parts ++ loserParts))
    }
    // the winner's committed snapshot is untouched: same probe answer,
    // and none of the loser's dirs appear in the committed manifest
    assert(probe() == afterWinner,
      "the lost race changed a committed generation's answer")
    val committed = graft.core.DeltaIndex.latest(spark, root)
    assert(committed.gen == m0.gen + 1)
    // the loser's NEW dirs only (writeCrossDelta returns full part
    // vectors, which share the inherited base generation dirs)
    val loserDirs =
      loserParts.values.flatten.toSet -- m0.parts.values.flatten.toSet
    assert(loserDirs.nonEmpty)
    assert(committed.parts.values.flatten.forall(d => !loserDirs(d)),
      s"committed manifest references a loser dir: $committed")
    // the loser's orphans are unreferenced and vacuum reaps them
    graft.core.DeltaIndex.vacuum(spark, root, keepGenerations = 2)
    for (d <- loserDirs)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/$d")),
        s"vacuum left the lost-race orphan $d")
  }

  test("an all-null-embedding delivery appends without a sem generation and the loop survives") {
    // ADVICE r18: writeSemDelta wrote an EMPTY cluster-partitioned lists
    // dir (no parquet files) and crashed re-reading it schema-less;
    // reachable whenever the gate admits docs whose embeddings are null.
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val dir = tempDir("empty_sem").toString
    val (idx, led) = (s"$dir/idx", s"$dir/led")
    Dedup.saveAcceptanceIndex(
      Seq((100L, "en", blk("alpha")), (101L, "en", blk("beta")))
        .toDF("doc_id", "lang", "text"),
      Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
        .toDF("vec_id", "embedding"),
      idx, k = 2, iters = 1)
    val nullVec: Option[Array[Float]] = None
    val delivery = Seq((1L, "en", blk("gamma"), nullVec),
        (2L, "en", blk("delta"), nullVec))
      .toDF("doc_id", "lang", "text", "embedding")
    val o = Dedup.processDelivery(delivery, idx, led, maxDf = 100)
    assert(o.admitted == 2L, s"null-embedding novel docs must admit: $o")
    assert(o.batteryGen == Some(1L))
    // the sem sub-index kept its generation — no empty commit
    assert(graft.core.DeltaIndex.latest(spark, s"$idx/sem").gen == 0L)
    assert(graft.core.DeltaIndex.latest(spark, idx).params("semGen") == "0")
    // the loop still closes: a replayed copy of an admitted doc rejects,
    // and the sem tier still works for real vectors
    val o2 = Dedup.processDelivery(
      Seq((11L, "en", blk("gamma"), Some(Array(0.9f, 0.1f))))
        .toDF("doc_id", "lang", "text", "embedding"),
      idx, led, maxDf = 100)
    val v = o2.report.select($"cand_id", $"verdict").as[(Long, String)]
      .collect().toMap
    assert(v == Map(11L -> "reject"), s"$v")
  }

  test("fit memo: truncated plan rendering cannot alias two different fits (lossless key)") {
    import graft.operators.Similarity
    val dir = tempDir("fitmemo_trunc").toString
    Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 1f), 2L -> Array(1f, 0.01f),
      3L -> Array(0.01f, 1f))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/v")
    // ADVICE r18: plan.canonicalized.toString elides field lists past
    // maxToStringFields — at 1, a projection of (vec_id, embedding) and
    // one of (vec_id, SHEARED embedding) render identically and the old
    // string key served fit A's codebook for fit B (the shear is not a
    // cosine isometry, so the aliased answer is genuinely wrong)
    val saved = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1")
    try {
      val a = spark.read.parquet(s"$dir/v").select($"vec_id", $"embedding")
      val b = spark.read.parquet(s"$dir/v").select($"vec_id",
        array(element_at($"embedding", 1) + element_at($"embedding", 2),
          element_at($"embedding", 2)).as("embedding"))
      val before = Similarity.fitComputes.get()
      val fitA = Similarity.kmeans(a, k = 2, iters = 1)
        .collect().map(_.toSeq).toSeq
      val fitB = Similarity.kmeans(b, k = 2, iters = 1)
        .collect().map(_.toSeq).toSeq
      assert(Similarity.fitComputes.get() == before + 2,
        "the truncated rendering aliased two different plans")
      assert(fitA != fitB, "negated input served the stale codebook")
    } finally spark.conf.set("spark.sql.debug.maxToStringFields", saved)
  }

  test("fit memo: a same-name in-place file rewrite misses the memo (length/mtime in the key)") {
    import graft.operators.Similarity
    val dir = tempDir("fitmemo_mtime").toString
    Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 1f), 2L -> Array(1f, 0.01f),
      3L -> Array(0.01f, 1f))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/v")
    def fit() = Similarity.kmeans(spark.read.parquet(s"$dir/v"), k = 2,
      iters = 1).collect().map(_.toSeq).toSeq
    val before = Similarity.fitComputes.get()
    val first = fit()
    assert(Similarity.fitComputes.get() == before + 1)
    // rewrite the part file IN PLACE under its exact name (the path
    // inventory alone cannot see this — only length/mtime can)
    Seq(0L -> Array(0.6f, 0.8f), 1L -> Array(0.8f, 0.6f),
      2L -> Array(0.6f, 0.79f), 3L -> Array(0.79f, 0.6f),
      4L -> Array(0.61f, 0.8f), 5L -> Array(0.8f, 0.61f))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/w")
    import java.nio.file._
    def partOf(p: String) = Files.list(Paths.get(p)).toArray.map(_.toString)
      .filter(f => f.contains("part-") && f.endsWith(".parquet")).head
    Files.copy(Paths.get(partOf(s"$dir/w")), Paths.get(partOf(s"$dir/v")),
      StandardCopyOption.REPLACE_EXISTING)
    // drop the stale Hadoop checksum sidecars the in-place copy orphaned
    Files.list(Paths.get(s"$dir/v")).toArray.map(_.toString)
      .filter(_.endsWith(".crc"))
      .foreach(f => Files.delete(Paths.get(f)))
    val second = fit()
    assert(Similarity.fitComputes.get() == before + 2,
      "an in-place rewrite under the same file name aliased a stale codebook")
    assert(second != first)
  }

  test("vacuum keeps a nested generation the parent's manifest pins (the sem-ahead crash window)") {
    // ADVICE r18: with keepGenerations=1, a battery whose sem sub-index
    // was one generation AHEAD (the documented crash window between the
    // sem commit and the battery commit) had its PINNED sem manifest
    // vacuumed, bricking the gate and the heal path.
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val dir = tempDir("vac_pin").toString
    val idx = s"$dir/idx"
    Dedup.saveAcceptanceIndex(
      Seq((100L, "en", blk("alpha")), (101L, "en", blk("beta")))
        .toDF("doc_id", "lang", "text"),
      Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
        .toDF("vec_id", "embedding"),
      idx, k = 2, iters = 1)
    // simulate the crash window: sem gen 1 committed, battery still pins 0
    graft.operators.Similarity.appendToSemRefIndex(
      Seq(7L -> Array(0.7f, 0.7f)).toDF("vec_id", "embedding"), s"$idx/sem")
    assert(graft.core.DeltaIndex.latest(spark, s"$idx/sem").gen == 1L)
    assert(graft.core.DeltaIndex.latest(spark, idx).params("semGen") == "0")
    graft.core.DeltaIndex.vacuum(spark, idx, keepGenerations = 1)
    // the pinned sem generation survived: the gate still resolves it
    val verdicts = Dedup.acceptanceGateIndexed(
        Seq((1L, "en", blk("alpha"), Array(0.9f, 0.1f)))
          .toDF("doc_id", "lang", "text", "embedding"),
        idx, maxDf = 100)
      .select($"cand_id", $"verdict").as[(Long, String)].collect().toMap
    assert(verdicts == Map(1L -> "reject"), s"$verdicts")
    // and the heal path (battery append with sem ahead) still works
    Dedup.appendToAcceptanceIndex(
      Seq((7L, "en", blk("gamma"))).toDF("doc_id", "lang", "text"),
      Seq(7L -> Array(0.7f, 0.7f)).toDF("vec_id", "embedding"), idx)
    assert(graft.core.DeltaIndex.latest(spark, idx).params("semGen") == "1")
  }

  test("ledger append is retry-safe: crash leftovers never brick the retry and vacuum reaps them") {
    val dir = tempDir("led_retry").toString
    val led = s"$dir/led"
    val report = Seq((1L, Option.empty[Long], 0L, 0L, "admit"))
      .toDF("cand_id", "exact_ref", "n_surface", "n_sem", "verdict")
    assert(Dedup.appendAcceptanceLedger(report, led) == 0L)
    // a crashed attempt's orphan delta dir (written, never committed)
    val orphan = java.nio.file.Paths.get(
      s"$led/${graft.core.DeltaIndex.deltaDir("reports", 1L)}")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("garbage.parquet"),
      "not parquet".getBytes)
    // the retry lands regardless (unique attempt dir + overwrite)
    assert(Dedup.appendAcceptanceLedger(report, led) == 1L)
    assert(Dedup.acceptanceLedgerLatest(spark, led).count() == 3L)
    graft.core.DeltaIndex.vacuum(spark, led, keepGenerations = 2)
    assert(!java.nio.file.Files.exists(orphan),
      "vacuum left the crashed attempt's orphan")
  }

  test("x182 attributes the ledger PSI movement to the planted tier combination") {
    // prev delivery: 20 clean admits. curr: the same mix plus a planted
    // SEM-ONLY spike — the x182 attribution must put the dominant PSI
    // term on the (0,0,1) combo, where x179's verdict-grain diff could
    // only say "review went up".
    def rep(rows: (Long, Option[Long], Long, Long)*) =
      rows.map { case (id, ex, s, m) =>
        (id, ex, s, m,
          if (ex.isDefined) "reject" else if (s + m > 0) "review" else "admit")
      }.toDF("cand_id", "exact_ref", "n_surface", "n_sem", "verdict")
    val prev = rep((1L to 20L).map(i => (i, Option.empty[Long], 0L, 0L)): _*)
    val curr = rep(((1L to 20L).map(i => (i, Option.empty[Long], 0L, 0L)) ++
      (21L to 30L).map(i => (i, Option.empty[Long], 0L, 3L))): _*)
    val out = Dedup.acceptanceLedgerTierDiff(prev, curr)
      .orderBy($"exact", $"surface", $"sem")
      .select($"exact", $"surface", $"sem", $"verdict", $"n_prev",
        $"n_curr", $"psi_term", $"psi", $"shifted")
      .as[(Long, Long, Long, String, Long, Long, Double, Double, Long)]
      .collect()
    assert(out.length == 8, s"full 8-combo support expected: ${out.length}")
    val byCombo = out.map(r => (r._1, r._2, r._3) -> r).toMap
    assert(byCombo((0L, 0L, 1L))._4 == "review" &&
      byCombo((0L, 0L, 1L))._5 == 0L && byCombo((0L, 0L, 1L))._6 == 10L)
    assert(byCombo((0L, 0L, 0L))._5 == 20L && byCombo((0L, 0L, 0L))._6 == 20L)
    // the planted combo carries the LARGEST PSI term — the attribution
    val maxCombo = out.maxBy(_._7)
    assert((maxCombo._1, maxCombo._2, maxCombo._3) == ((0L, 0L, 1L)),
      s"PSI not attributed to the planted tier: ${out.toSeq}")
    assert(out.forall(r => r._8 >= Dedup.AcceptShiftThreshold && r._9 == 1L),
      s"the planted spike must flag shifted: ${out.toSeq}")
    // a no-shift control: identical sides diff to zero PSI everywhere
    val flat = Dedup.acceptanceLedgerTierDiff(prev, prev)
      .select($"psi_term", $"psi", $"shifted")
      .as[(Double, Double, Long)].collect()
    assert(flat.forall(r => r._1 == 0.0 && r._2 == 0.0 && r._3 == 0L))
  }

  test("x182 persisted tiers: the ledger's 8-row tier tables diff without re-reading reports") {
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    def dlv(rows: (Long, String, Array[Float])*) =
      rows.map { case (id, t, e) => (id, "en", t, e) }
        .toDF("doc_id", "lang", "text", "embedding")
    val dir = tempDir("tier_shift").toString
    val (idx, led) = (s"$dir/idx", s"$dir/led")
    Dedup.saveAcceptanceIndex(
      Seq((100L, "en", blk("alpha")), (101L, "en", blk("beta")))
        .toDF("doc_id", "lang", "text"),
      Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
        .toDF("vec_id", "embedding"),
      idx, k = 2, iters = 1)
    Dedup.processDelivery(
      dlv((1L, blk("gamma"), Array(0.7f, 0.71f)),
        (2L, blk("alpha"), Array(0.9f, 0.1f))),
      idx, led, maxDf = 100, tau = 0.9)
    Dedup.processDelivery(
      dlv((11L, blk("delta"), Array(-0.7f, 0.7f)),
        (12L, blk("alpha"), Array(0.9f, 0.1f)),
        (13L, blk("gamma"), Array(0.7f, 0.71f))),
      idx, led, maxDf = 100, tau = 0.9)
    val viaTiers = Dedup.acceptanceTierShiftLatest(spark, led)
      .collect().map(_.toSeq).toSet
    // equal to the from-reports diff — the persisted 8-row tables are a
    // faithful projection of the full reports
    val m = graft.core.DeltaIndex.latest(spark, led)
    val reps = m.dirs("reports").map(d => spark.read.parquet(s"$led/$d"))
    val viaReports = Dedup.acceptanceLedgerTierDiff(reps(0), reps(1))
      .collect().map(_.toSeq).toSet
    assert(viaTiers == viaReports, s"$viaTiers vs $viaReports")
    assert(viaTiers.nonEmpty && m.dirs("tiers").length == 2)
  }

  test("planted drift fires the mid-loop rebuild and the next delivery's verdicts recover the recall") {
    // The x178 geometry at the delivery-loop grain (VERDICT r19 ask 4):
    // a new data direction (50deg) is admitted, the pre-ingest drift
    // check flags the frozen codebook, processDelivery rebuilds the sem
    // sub-index AFTER ingesting the mass, and the NEXT delivery's
    // paraphrase of it is caught — where a loop with the policy off
    // structurally misses it across the stale Voronoi boundary.
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    def dlv(rows: (Long, String, Array[Float])*) =
      rows.map { case (id, t, e) => (id, "en", t, e) }
        .toDF("doc_id", "lang", "text", "embedding")
    def mkIdx(tag: String): (String, String) = {
      val dir = tempDir(tag).toString
      Dedup.saveAcceptanceIndex(
        Seq((0L, "en", blk("ax")), (2L, "en", blk("bx")), (4L, "en", blk("cx")),
          (1L, "en", blk("dx")), (3L, "en", blk("ex")), (5L, "en", blk("fx")))
          .toDF("doc_id", "lang", "text"),
        Seq(0L -> Array(1f, 0f), 2L -> Array(1f, 0.01f), 4L -> Array(1f, -0.01f),
          1L -> Array(0f, 1f), 3L -> Array(0.01f, 1f), 5L -> Array(-0.01f, 1f))
          .toDF("vec_id", "embedding"),
        s"$dir/idx", k = 2, iters = 1)
      (s"$dir/idx", s"$dir/led")
    }
    // delivery 1: 12 novel docs piling into the 50deg direction — all
    // admit, and their occupancy skew flags the codebook
    val drifted = (0 until 12).map(i =>
      (10L + i, blk(s"g$i"), Array(0.6428f + i * 0.0001f, 0.766f)))
    // delivery 2: one paraphrase of the drifted mass at 41deg
    // (cos(9deg) ~ .9877 >= tau) with novel text — the semantic tier is
    // the only one that can catch it
    val para = (100L, blk("zz"), Array(0.75471f, 0.65606f))
    def run(rebuildOnDrift: Boolean): (Dedup.DeliveryOutcome, String) = {
      val (idx, led) = mkIdx(s"drift_policy_$rebuildOnDrift")
      val o1 = Dedup.processDelivery(dlv(drifted: _*), idx, led,
        maxDf = 100, tau = 0.98, rebuildOnDrift = rebuildOnDrift,
        rebuildK = Some(3))
      assert(o1.admitted == 12L, s"drifted mass must admit: $o1")
      assert(o1.rebuiltSem == rebuildOnDrift,
        s"drift policy fired=$rebuildOnDrift expected: $o1")
      val o2 = Dedup.processDelivery(dlv(para), idx, led,
        maxDf = 100, tau = 0.98, rebuildOnDrift = rebuildOnDrift)
      (o2, idx)
    }
    val (withPolicy, idxOn) = run(rebuildOnDrift = true)
    val vOn = withPolicy.report.select($"cand_id", $"n_sem", $"verdict")
      .as[(Long, Long, String)].collect().toSeq
    assert(vOn == Seq((100L, 12L, "review")),
      s"post-rebuild the paraphrase must be caught against all 12: $vOn")
    // the battery pins the refit generation: sem build 0, delivery-1
    // append 1, the refit 2 (numbering never restarts); delivery 2's
    // paraphrase is reviewed, not admitted, so nothing appends after it
    assert(graft.core.DeltaIndex.latest(spark, idxOn).params("semGen") == "2",
      "the rebuild must re-pin semGen to the refit lineage")
    // control: the same loop with the policy off misses the paraphrase
    val (without, _) = run(rebuildOnDrift = false)
    val vOff = without.report.select($"cand_id", $"n_sem", $"verdict")
      .as[(Long, Long, String)].collect().toSeq
    assert(vOff == Seq((100L, 0L, "admit")),
      s"control: the stale codebook should have missed it: $vOff")
  }

  test("the Nth delivery triggers auto-compaction and probe results are unchanged") {
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    def dlv(rows: (Long, String, Array[Float])*) =
      rows.map { case (id, t, e) => (id, "en", t, e) }
        .toDF("doc_id", "lang", "text", "embedding")
    // TWIN loops over identical deliveries: one compacts at 3 generation
    // dirs, the control never does — every delivery's verdicts and the
    // final gate answer must agree exactly (probe identity), and only
    // the compacting twin's manifest collapses to single dirs.
    def run(compactAfter: Int) = {
      val dir = tempDir(s"auto_compact_$compactAfter").toString
      val (idx, led) = (s"$dir/idx", s"$dir/led")
      Dedup.saveAcceptanceIndex(
        Seq((100L, "en", blk("alpha")), (101L, "en", blk("beta")))
          .toDF("doc_id", "lang", "text"),
        Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
          .toDF("vec_id", "embedding"),
        idx, k = 2, iters = 1)
      val outs = Seq(
        dlv((1L, blk("gamma"), Array(0.7f, 0.71f))),
        dlv((2L, blk("delta"), Array(-0.7f, 0.7f))),
        // re-delivery of an admitted doc — must reject across the
        // compaction boundary (the loop still closes)
        dlv((31L, blk("gamma"), Array(0.7f, 0.71f)))
      ).map(d => Dedup.processDelivery(d, idx, led,
        maxDf = 100, tau = 0.9, compactAfter = compactAfter))
      val verdicts = outs.map(_.report
        .select($"cand_id", $"exact_ref", $"n_surface", $"n_sem", $"verdict")
        .collect().map(_.toSeq).toSet)
      val gate = Dedup.acceptanceGateIndexed(
          dlv((900L, blk("alpha"), Array(0.9f, 0.1f)),
            (901L, blk("novel"), Array(0.1f, -0.9f))),
          idx, maxDf = 100)
        .select($"cand_id", $"exact_ref", $"n_surface", $"n_sem", $"verdict")
        .collect().map(_.toSeq).toSet
      (outs, verdicts, gate, idx)
    }
    val (outs, verdicts, gate, idx) = run(compactAfter = 3)
    val (outsC, verdictsC, gateC, _) = run(compactAfter = 100)
    assert(!outs(0).compacted && outs(0).batteryGen == Some(1L), s"${outs(0)}")
    // delivery 2's append brings grams/sizes/texts to 3 dirs -> fires
    assert(outs(1).compacted, s"delivery 2 should have compacted: ${outs(1)}")
    assert(outs(1).batteryGen == Some(3L),
      s"compaction commits the next generation (append 2, compaction 3): ${outs(1)}")
    val m = graft.core.DeltaIndex.latest(spark, idx)
    assert(m.parts.values.forall(_.length == 1),
      s"compacted parts must be single dirs: ${m.parts}")
    assert(outsC.forall(!_.compacted), "the control twin must not compact")
    assert(verdicts == verdictsC,
      s"compaction changed a delivery's verdicts: $verdicts vs $verdictsC")
    assert(gate == gateC, s"compaction changed the gate: $gate vs $gateC")
    assert(verdicts(2).exists(_(4) == "reject"),
      s"the re-delivered admit must reject across the compaction: ${verdicts(2)}")
  }

  test("a crashed drift-rebuild's refit is re-pinned on the next delivery") {
    def blk(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val dir = tempDir("heal_pin").toString
    val (idx, led) = (s"$dir/idx", s"$dir/led")
    Dedup.saveAcceptanceIndex(
      Seq((100L, "en", blk("alpha")), (101L, "en", blk("beta")))
        .toDF("doc_id", "lang", "text"),
      Seq(100L -> Array(1f, 0f), 101L -> Array(0f, 1f))
        .toDF("vec_id", "embedding"),
      idx, k = 2, iters = 1)
    // a normal delivery moves the battery pin to sem gen 1
    Dedup.processDelivery(
      Seq((1L, "en", blk("gamma"), Array(0.7f, 0.71f)))
        .toDF("doc_id", "lang", "text", "embedding"),
      idx, led, maxDf = 100, tau = 0.9)
    assert(graft.core.DeltaIndex.latest(spark, idx).params("semGen") == "1")
    // simulate the crash window: the sem refit committed generation 2
    // (same vectors, new codebook), the battery re-pin commit did not
    assert(graft.operators.Similarity.rebuildSemRefIndex(spark, s"$idx/sem",
      k = 2, iters = 1) == 2L)
    assert(graft.core.DeltaIndex.latest(spark, idx).params("semGen") == "1",
      "precondition: the battery still pins the pre-refit generation")
    // the pinned generation is still complete: the gate keeps working
    val gate = Dedup.acceptanceGateIndexed(
        Seq((30L, "en", blk("gamma"), Array(0.7f, 0.71f)))
          .toDF("doc_id", "lang", "text", "embedding"), idx, maxDf = 100, tau = 0.9)
      .select($"cand_id", $"verdict").as[(Long, String)].collect().toSeq
    assert(gate == Seq((30L, "reject")), s"$gate")
    // without the heal the append's sem-ahead branch refuses the refit
    // as a foreign generation (same ids as the pin, not this delivery's)
    val d = Seq((21L, "en", blk("epsilon"), Array(-0.7f, 0.7f)))
      .toDF("doc_id", "lang", "text", "embedding")
    intercept[IllegalArgumentException] {
      Dedup.appendToAcceptanceIndex(d.drop("embedding"),
        d.select($"doc_id".as("vec_id"), $"embedding"), idx)
    }
    // the next delivery re-pins up front and completes normally
    val o = Dedup.processDelivery(d, idx, led, maxDf = 100, tau = 0.9)
    assert(o.admitted == 1L, s"$o")
    val m = graft.core.DeltaIndex.latest(spark, idx)
    assert(m.params("semGen") == "3" &&
      graft.core.DeltaIndex.latest(spark, s"$idx/sem").gen == 3L,
      s"heal re-pinned to the refit (2), then the append advanced it: $m")
    assert(new java.io.File(dir).list().toSeq.sorted == Seq("idx", "led"),
      "something was written beside the roots")
  }
}
