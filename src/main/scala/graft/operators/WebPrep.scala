package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Web-corpus preparation stages: URL canonicalization (the key under
  * which crawl dedup and host-level policy actually operate) and
  * markup stripping / field extraction (the first transform applied to
  * raw crawled HTML before any text analysis).
  *
  * Both are map-only projections built from the regex subset Java's
  * engine and RE2 interpret identically (character classes, bounded
  * repetition, anchors; no lookaround, no backreferences) — at 100 TB
  * these run inside the scan's codegen stage at I/O cost.
  */
object WebPrep {

  // --------------------------------------- URL canonicalization (x102)

  /** Canonical URL image, the standard crawl-dedup ladder applied in a
    * FIXED order (each step a sequential replace — no alternation-
    * preference dependence):
    *   1. drop the `#fragment` (never reaches the server);
    *   2. drop tracking params (`utm_*`, `fbclid`, `gclid`) wherever
    *      they sit in the query string, then sweep the leftover
    *      separator (`?&` → `?`, trailing `?`/`&` dropped);
    *   3. lowercase the scheme+host (path stays case-sensitive per
    *      RFC 3986);
    *   4. strip the scheme and a leading `www.`;
    *   5. drop one trailing slash on a non-root path.
    * Two URLs that differ only in these dimensions are the same fetch
    * — collapsing them is the first dedup tier of every crawl
    * pipeline (and the key for x98's host caps). */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    // the tracking param must START at a ?/& separator (kept via $1) —
    // an unanchored pattern would also gut innocents like `myutm_x=2`;
    // the kept separators leave runs (`?&`, `&&`) for the sweep below
    val noTrack = regexp_replace(noFrag,
      "([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*", "$1")
    val tidy = regexp_replace(regexp_replace(noTrack, "([?&])&+", "$1"),
      "[?&]$", "")
    // lowercase scheme://host (everything before the first single /
    // after the authority), preserving the path's case; a scheme-less
    // input skips the step rather than being wiped by a no-match
    val hostLower = when(tidy.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"),
      concat(
        lower(regexp_extract(tidy, "^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)", 1)),
        regexp_extract(tidy, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(.*)$", 1)))
      .otherwise(tidy)
    val noScheme = regexp_replace(hostLower, "^[a-z][a-z0-9+.-]*://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    regexp_replace(noWww, "(.)/$", "$1")
  }

  /** The registrable host of a canonical URL (everything before the
    * first `/`, `?` or `#`, port dropped) — x98's quota key and the
    * blocklist join key. The `?`/`#` cuts matter for a canonical URL
    * with a query but no path (`example.com?x=1`): host-before-`/`
    * alone would keep the query glued to the host AND defeat the
    * trailing-anchored port strip. */
  def urlHost(canon: Column): Column =
    regexp_replace(regexp_extract(canon, "^([^/?#]*)", 1), ":[0-9]+$", "")

  /** x102: URL CANONICALIZATION audit — per document: the canonical
    * URL, its host, and whether canonicalization changed anything
    * (the fraction that changed is the dedup headroom a crawl gains
    * from the ladder). One narrow projection; grouping by `host`
    * afterwards is x98's quota input. */
  def urlCanonicalize(docs: DataFrame, urlCol: String = "url"): DataFrame =
    docs.select(col("doc_id"), col(urlCol).as("url"))
      .withColumn("canon", canonicalUrl(col("url")))
      .select(col("doc_id"), col("canon"), urlHost(col("canon")).as("host"),
        when(col("url") =!= col("canon"), 1L).otherwise(0L).as("changed"))

  /** The x102 queries() face: the corpus carries no URL column, so the
    * face PLANTS one deterministically from (source, doc_id) — with
    * residue-selected noise (scheme case, `www.`, utm params, a
    * fragment, a trailing slash) so every ladder rule fires on a known
    * subset and the DuckDB twin rebuilds the exact same input. */
  def urlQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val id = col("doc_id")
    val url = concat(
      when(id % 2 === 0, "HTTPS://").otherwise(lit("https://")),
      when(id % 3 === 0, "WWW.").otherwise(lit("")),
      col("source"), lit(".example.com/Docs/"), id.cast("string"),
      when(id % 7 === 0, "/").otherwise(lit("")),
      when(id % 5 === 0, concat(lit("?utm_source=feed&page="), (id % 4).cast("string")))
        .otherwise(lit("")),
      when(id % 11 === 0, "#sec2").otherwise(lit("")))
    urlCanonicalize(docs.withColumn("url", url)).orderBy(col("doc_id"))
  }

  // --------------------------------------------- URL-level dedup (x104)

  /** x104: CANONICAL-URL DEDUP — the crawl-frontier tier that fires
    * BEFORE any content is fetched or hashed: two records whose URLs
    * canonicalize identically are the same fetch, and the min-doc_id
    * keeper wins (x01's keeper rule on the x102 key). Emits every
    * record with its canonical key, keeper, and verdict — the audit
    * shape. One hash aggregate on the canonical key + an equi-join
    * back; at 100 TB both sides would key on xxhash64(canon) to
    * narrow the shuffle (kept raw here so the report is cross-engine
    * exact). */
  def urlDedup(docs: DataFrame, urlCol: String = "url"): DataFrame = {
    val canoned = docs.select(col("doc_id"), col(urlCol).as("url"))
      .withColumn("canon", canonicalUrl(col("url")))
    val keepers = canoned.groupBy(col("canon"))
      .agg(min(col("doc_id")).as("keep_id"))
    canoned.join(keepers, Seq("canon"))
      .select(col("doc_id"), col("canon"), col("keep_id"),
        when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L).as("dup"))
  }

  /** The x104 queries() face: planted URLs that genuinely COLLIDE —
    * the path is doc_id mod 23 (so ~ n/460 records share each
    * (source, slot) fetch at sf0.01) and the noise residues (scheme
    * case, www, utm, fragment) differ per doc_id, so the collapse is
    * the canonicalizer's doing, not string equality on the plant. */
  def urlDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val id = col("doc_id")
    val url = concat(
      when(id % 2 === 0, "HTTPS://").otherwise(lit("https://")),
      when(id % 3 === 0, "WWW.").otherwise(lit("")),
      col("source"), lit(".example.com/p/"), (id % 23).cast("string"),
      when(id % 5 === 0, "?utm_source=feed").otherwise(lit("")),
      when(id % 11 === 0, "#sec2").otherwise(lit("")))
    urlDedup(docs.withColumn("url", url)).orderBy(col("doc_id"))
  }

  // ------------------------------------- markup strip / extract (x103)

  /** x103: MARKUP STRIP + FIELD EXTRACTION — the raw-HTML-to-text
    * stage: pull the `<title>`, count outbound links, drop every tag,
    * collapse the whitespace the tags leave behind. Regex-grade
    * stripping (no entity decoding, no script-content awareness) is
    * exactly what large crawl pipelines run at scale before a real
    * parser ever sees the survivors; the contract here is the Spark
    * plumbing and a deterministic, engine-exact image of that stage. */
  def stripMarkup(docs: DataFrame, htmlCol: String = "html"): DataFrame = {
    val h = col(htmlCol)
    val text = trim(regexp_replace(
      regexp_replace(h, "<[^>]*>", " "), "\\s+", " "))
    docs.select(col("doc_id"),
      regexp_extract(h, "<title>([^<]*)</title>", 1).as("title"),
      regexp_count(h, lit("<a ")).cast("long").as("n_links"),
      text.as("text"),
      length(text).cast("long").as("clean_len"))
  }

  /** The x103 queries() face: deterministic synthetic markup around the
    * corpus text — a title derived from doc_id, the body split by a
    * mid-document tag boundary, and a residue-selected number of links
    * — so the twin rebuilds the identical raw HTML. */
  def markupQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val id = col("doc_id")
    val html = concat(
      lit("<html><head><title>Doc "), id.cast("string"),
      lit("</title></head><body><p>"), col("text"), lit("</p>"),
      when(id % 3 === 0, "<a href=\"/x\">x</a>").otherwise(lit("")),
      when(id % 9 === 0, "<a href=\"/y\">y</a>").otherwise(lit("")),
      lit("</body></html>"))
    stripMarkup(docs.withColumn("html", html)).orderBy(col("doc_id"))
  }

  // -------------------------------------------- link graph (x114)

  /** x114: LINK-GRAPH CONSTRUCTION from raw markup — extract every
    * `href`, canonicalize it with the x102 ladder, reduce to the
    * registrable host, and aggregate (src_host, dst_host) edge counts:
    * the web graph that feeds PageRank (x39), host reputation, and
    * crawl frontier prioritization, built straight from the crawl
    * instead of arriving as a given edge table. Canonicalizing BEFORE
    * hosting matters: `HTTPS://WWW.a.com/x` and `https://a.com/y` are
    * the same destination host, and tracking-param noise never splits
    * an edge.
    *
    * Shape: one scan → regexp href extraction (map-only, codegen'd) →
    * explode (fan-out bounded by links-per-doc) → hash agg on the edge
    * key. At 100 TB the edge aggregate is the only shuffle and its key
    * space is |hosts|², already the PageRank input grain; partial
    * aggregation collapses repeated edges map-side. */
  def linkGraph(docs: DataFrame, srcHost: Column, html: Column): DataFrame =
    docs.select(srcHost.as("src_host"),
        explode(regexp_extract_all(html, lit("href=\"([^\"]+)\""), lit(1)))
          .as("url"))
      .select(col("src_host"),
        urlHost(canonicalUrl(col("url"))).as("dst_host"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"))

  /** The x114 queries() face: links are PLANTED with residue-selected
    * noise (scheme case, `www.`, a utm param, a fragment) so the
    * canonicalization ladder demonstrably collapses variants into one
    * edge, and a hub target gives every source a shared sink; the
    * DuckDB twin rebuilds the identical markup. */
  def linkGraphQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val id = col("doc_id")
    val html = concat(
      lit("<p>see <a href=\"https://src"), ((id * 7) % 20).cast("string"),
      lit(".example.com/p/"), (id % 13).cast("string"), lit("\">a</a>"),
      when(id % 3 === 0, concat(lit("<a href=\"HTTPS://WWW.src"),
        ((id * 3) % 20).cast("string"),
        lit(".example.com/q?utm_source=feed&x=1\">b</a>"))).otherwise(lit("")),
      when(id % 5 === 0,
        lit("<a href=\"https://hub.example.com/h#frag\">c</a>"))
        .otherwise(lit("")),
      lit("</p>"))
    linkGraph(docs.withColumn("html", html),
        concat(col("source"), lit(".example.com")), col("html"))
      .orderBy(col("src_host"), col("dst_host"))
  }

  // ------------------------------------------ anchor text (x116)

  /** x116: ANCHOR-TEXT AGGREGATION — the text inside `<a>` tags,
    * term-exploded and aggregated per canonical DESTINATION host: the
    * classic off-page relevance signal (what the web calls a page,
    * not what the page calls itself), and the companion to x114's
    * edge counts. Two-level explode (anchors per doc, terms per
    * anchor), both bounded by markup size; the aggregate key space is
    * |hosts|·|vocabulary| and collapses map-side. The href is
    * canonicalized with the x102 ladder BEFORE hosting, so noise
    * variants of one destination pool their anchor terms. */
  def anchorText(docs: DataFrame, html: Column): DataFrame =
    docs.select(explode(regexp_extract_all(html,
        lit("<a href=\"[^\"]*\"[^>]*>[^<]*</a>"), lit(0))).as("a"))
      .select(
        urlHost(canonicalUrl(regexp_extract(col("a"), "href=\"([^\"]+)\"", 1)))
          .as("dst_host"),
        explode(TextAnalysis.wsTokens(
          regexp_extract(col("a"), ">([^<]*)</a>", 1))).as("term"))
      .groupBy(col("dst_host"), col("term"))
      .agg(count(lit(1)).as("n_anchors"))

  /** The x116 queries() face: anchors PLANTED with per-destination
    * text (so the aggregation provably pools terms across source
    * docs) and the x114 noise residues on the href; the DuckDB twin
    * rebuilds the identical markup. */
  def anchorTextQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val id = col("doc_id")
    val html = concat(
      lit("<p><a href=\"https://src"), ((id * 7) % 20).cast("string"),
      lit(".example.com/p/"), (id % 13).cast("string"),
      lit("\">read src"), ((id * 7) % 20).cast("string"),
      lit(" item "), (id % 13).cast("string"), lit("</a>"),
      when(id % 3 === 0, concat(lit("<a href=\"HTTPS://WWW.src"),
        ((id * 3) % 20).cast("string"),
        lit(".example.com/q?utm_source=x\">visit src"),
        ((id * 3) % 20).cast("string"), lit(" now</a>"))).otherwise(lit("")),
      lit("</p>"))
    anchorText(docs.withColumn("html", html), col("html"))
      .orderBy(col("dst_host"), col("term"))
  }

  // --------------------------------------- host reputation gate (x119)

  /** x119's length-gate threshold (the x18 minTokens) and the
    * reputation cut (half the host's docs must pass), shared with the
    * DuckDB twin. */
  private[graft] val HostRepMinTokens: Long = 40L

  /** x119: HOST-REPUTATION GATE — domain-level filtering (the
    * CCNet/RefinedWeb move): score every HOST by the share of its
    * documents passing a per-doc quality gate (here the x18 length
    * gate), then admit or reject each document BY ITS HOST's score,
    * not its own. The point of the host grain: a spam domain's
    * individually-plausible pages all fall together, and a reputable
    * domain's one short page survives. All-integer decision arithmetic
    * (`2·host_pass ≥ host_docs` — no division), audit-shaped output.
    *
    * Shape: one scan → per-doc narrow token count → host-grain hash
    * agg (|hosts| rows) → equi-join back on host. The broadcast hint
    * on the join-back is sized to the web's registrable-domain scale
    * (single-digit millions of rows × a few scalars — hundreds of MB,
    * inside a healthy driver/executor budget) and keeps the document
    * side from ever shuffling; a deployment whose host key is FINER
    * than registrable domains (full subdomains, ports) should drop the
    * hint and let AQE pick, trading a doc-side shuffle for driver
    * safety. */
  def hostReputation(docs: DataFrame, host: Column,
                     minTokens: Long = HostRepMinTokens): DataFrame = {
    val scored = docs.select(host.as("host"), col("doc_id"),
      (size(TextAnalysis.wsTokens(col("text"))) >= minTokens).as("pass"))
    val rep = scored.groupBy(col("host"))
      .agg(count(lit(1)).as("host_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("host_pass"))
    scored.join(broadcast(rep), Seq("host"))
      .select(col("doc_id"), col("host"), col("host_docs"), col("host_pass"),
        when(col("host_pass") * 2 >= col("host_docs"), 1L).otherwise(0L)
          .as("admitted"))
  }

  def hostReputationQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    hostReputation(docs, concat(col("source"), lit(".example.com")))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------- link-graph degrees (x123)

  /** x123: LINK-GRAPH DEGREE / RECIPROCITY PROFILE — per host over an
    * (src_host, dst_host, n_links) edge table (x114's output grain):
    * distinct out/in neighbors, total out/in link volume, and how many
    * of its out-neighbors link BACK (reciprocity — link farms
    * reciprocate near 100%, organic linking doesn't; self-loops are
    * excluded as trivially reciprocal). The host-level features a
    * crawl prioritizer or spam model consumes next to x119's content
    * reputation. All-integer.
    *
    * Shape: aggregate-grain all the way — two |hosts|-keyed rollups of
    * the edge table, a self-join of the edge KEY SET with src/dst
    * swapped for reciprocity (edge-grain, not corpus-grain), one full
    * outer join to keep pure sources and pure sinks both. */
  def linkDegrees(edges: DataFrame): DataFrame = {
    val outs = edges.groupBy(col("src_host").as("host"))
      .agg(count(lit(1)).as("out_deg"), sum(col("n_links")).as("out_links"))
    val ins = edges.groupBy(col("dst_host").as("host"))
      .agg(count(lit(1)).as("in_deg"), sum(col("n_links")).as("in_links"))
    val keys = edges.select(col("src_host"), col("dst_host"))
      .filter(col("src_host") =!= col("dst_host"))
    val recip = keys.join(
        keys.select(col("src_host").as("dst_host"), col("dst_host").as("src_host")),
        Seq("src_host", "dst_host"), "left_semi")
      .groupBy(col("src_host").as("host"))
      .agg(count(lit(1)).as("recip_deg"))
    outs.join(ins, Seq("host"), "full_outer")
      .join(recip, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("out_links"), lit(0L)).as("out_links"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("in_links"), lit(0L)).as("in_links"),
        coalesce(col("recip_deg"), lit(0L)).as("recip_deg"))
  }

  /** The x123 queries() face: degrees of the SAME planted graph x114
    * aggregates, so the two reports cross-check. */
  def linkDegreesQuery(spark: SparkSession, dir: String): DataFrame = {
    // shared within the returned plan: linkDegrees references the edge
    // aggregate four ways (out/in marginals + both reciprocal semi-join
    // sides), and the regex link-extract pipeline behind it re-executed
    // per reference (the x145 edge-frame discipline; host-pair grain)
    val graph = linkGraphQuery(spark, dir)
    graft.plans.Shared(linkDegrees(graph).orderBy(col("host")), graph)
  }

  // ------------------------------------ label propagation (x138)

  /** x138: one synchronous LABEL-PROPAGATION step over the link graph —
    * each host collects a link-weighted vote of its NEIGHBORS' seed
    * labels (x119's content reputation: admitted 0/1) and takes the
    * majority: the guilt-by-association spam/quality spreading move
    * (TrustRank's core step) that labels hosts the content model never
    * saw (pure link hubs, new hosts) and flags seeded hosts whose
    * neighborhood disagrees with their own content score. Edges are
    * treated undirected (linking to a farm and being linked by one are
    * both signal); self-loops drop; unseeded neighbors cast no vote.
    * Majority ties and vote-less hosts keep their own seed (-1 when
    * also unseeded). All-integer — oracle-exact.
    *
    * Shape: the symmetrized edge list is two projections of the edge
    * aggregate unioned then re-aggregated (edge-grain); votes are one
    * |hosts|-keyed rollup after the seed join. The broadcast hints on
    * BOTH seed joins carry the same sizing contract as x119's
    * join-back ([[hostReputation]]): seeds are host-grain at the web's
    * registrable-domain scale — single-digit millions of rows × two
    * longs, tens of MB, inside a healthy driver/executor budget — and
    * broadcasting keeps the edge aggregate from shuffling a second
    * time for the vote join. A deployment whose seed key is FINER than
    * registrable domains (full subdomains, ports, per-URL labels)
    * should drop the hints and let AQE pick, trading an edge-side
    * shuffle for driver safety. One propagation step per call —
    * iterate k times for k-hop spreading (each step is the same
    * bounded shuffle; see x14/x39 for the lineage-cut discipline an
    * unbounded iteration needs). */
  def labelPropagation(edges: DataFrame, seeds: DataFrame): DataFrame =
    propagateStep(symmetrizedWeights(edges), seeds)

  /** The symmetrized (host, nbr, w) weight aggregate one propagation
    * step votes over — computed once per [[labelPropagation]] call, and
    * ONCE TOTAL (then lineage-cut) by [[labelPropagationConverged]]. */
  private def symmetrizedWeights(edges: DataFrame): DataFrame = {
    val keyed = edges.filter(col("src_host") =!= col("dst_host"))
    keyed
      .select(col("src_host").as("host"), col("dst_host").as("nbr"),
        col("n_links"))
      .unionByName(keyed.select(col("dst_host").as("host"),
        col("src_host").as("nbr"), col("n_links")))
      .groupBy(col("host"), col("nbr"))
      .agg(sum(col("n_links")).as("w"))
  }

  /** One synchronous vote round over a prebuilt [[symmetrizedWeights]]
    * aggregate — the body both x138 faces share verbatim. */
  private def propagateStep(und: DataFrame, seeds: DataFrame): DataFrame = {
    val votes = und
      .join(broadcast(seeds.select(col("host").as("nbr"),
        col("seed").as("nseed"))), Seq("nbr"), "left")
      .groupBy(col("host"))
      .agg(sum(when(col("nseed") === 1L, col("w")).otherwise(0L)).as("votes_ok"),
        sum(when(col("nseed") === 0L, col("w")).otherwise(0L)).as("votes_bad"))
    votes.join(broadcast(seeds), Seq("host"), "left")
      .select(col("host"), coalesce(col("seed"), lit(-1L)).as("seed"),
        col("votes_ok"), col("votes_bad"),
        when(col("votes_ok") > col("votes_bad"), 1L)
          .when(col("votes_bad") > col("votes_ok"), 0L)
          .otherwise(coalesce(col("seed"), lit(-1L))).as("propagated"))
  }

  /** x138 iterated to a FIXED POINT: each round's propagated labels seed
    * the next (unknown −1 verdicts stay unseeded — they cast no vote),
    * until no host's label changes or `maxIters` rounds — the full
    * TrustRank spreading rather than the single hop labelPropagation
    * answers (a host two links from any seed is unreachable in one
    * step; here labels flow outward a hop per round). Labels are only
    * ever ADDED or FLIPPED by a strict majority, never removed, so
    * "zero flips in a round" is a true fixed point; a bipartite
    * flip-flop core (the classic synchronous-LP oscillation) is bounded
    * by `maxIters`, and the committed answer is that round's frame.
    *
    * Output schema and semantics match [[labelPropagation]] exactly —
    * `seed` is the ORIGINAL seed, `propagated` the final label, votes
    * the final round's tallies — so `maxIters = 1` is the identity
    * (spec-asserted).
    *
    * Scale shape: the x39/x14 iteration discipline — the symmetrized
    * edge aggregate builds once and is lineage-cut; every round is one
    * bounded vote shuffle plus a host-grain label frame, itself cut, so
    * the plan never grows with the round count; the previous round's
    * blocks free as soon as its successor is cut. The per-round
    * convergence probe is ONE count on the host-grain step frame (the
    * connectedComponents budget). Pass `checkpointDir` on real clusters
    * for executor-loss durability. */
  def labelPropagationConverged(edges: DataFrame, seeds: DataFrame,
                                maxIters: Int = 10,
                                checkpointDir: Option[String] = None): DataFrame = {
    require(maxIters > 0, s"labelPropagationConverged: maxIters=$maxIters")
    graft.core.IterUtil.ensureCheckpointDir(edges.sparkSession, checkpointDir)
    def cut(df: DataFrame): DataFrame =
      graft.core.IterUtil.cut(df, checkpointDir.isDefined)

    val und = cut(symmetrizedWeights(edges))
    var labels = seeds.select(col("host"), col("seed"))
    var prevCut: Option[DataFrame] = None
    var last: DataFrame = null
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val step = cut(propagateStep(und, labels))
      // a round is converged when every host kept its incoming label —
      // labels monotonically cover (propagated is never -1 where seed
      // wasn't), so zero flips means the assignment is stable
      converged = step.filter(not(col("propagated") <=> col("seed"))).isEmpty
      prevCut.foreach(graft.core.IterUtil.free)
      prevCut = Some(step)
      last = step
      labels = step.filter(col("propagated") =!= -1L)
        .select(col("host"), col("propagated").as("seed"))
      it += 1
    }
    graft.core.IterUtil.free(und)
    // commit the final round with the ORIGINAL seeds in the seed column
    // (each round's own seed column carries the PREVIOUS round's labels)
    last.drop("seed")
      .join(broadcast(seeds.select(col("host"), col("seed"))), Seq("host"), "left")
      .select(col("host"), coalesce(col("seed"), lit(-1L)).as("seed"),
        col("votes_ok"), col("votes_bad"), col("propagated"))
  }

  // ------------------------- triangles / clustering coefficient (x145)

  /** x145: TRIANGLE COUNT and local CLUSTERING COEFFICIENT per host
    * over the undirected link graph — the density signature that
    * separates link FARMS (cliques: coefficient near 1) from organic
    * hubs (stars: near 0); the structural companion to x123's
    * degree/reciprocity profile and x138's label spreading. Edges
    * dedup to undirected distinct pairs (self-loops drop); triangles
    * enumerate ONCE via the a<b<c orientation join, then credit all
    * three corners. Coefficient = 2T / (d·(d−1)) with d the distinct
    * undirected degree — one double division rounded at 6; degree-0/1
    * hosts read null (no possible triangle) rather than an
    * engine-specific 0/0.
    *
    * Scale shape: DEGREE-ORIENTED wedge enumeration (the classic
    * compact-forward refinement) — each undirected edge orients from
    * its LOWER-(degree, host) endpoint, so every vertex's oriented
    * out-degree is O(sqrt(|E|)) and the wedge join (two out-edges of
    * one source) is bounded by outdeg² per vertex even on a skewed
    * graph. Id-ordered enumeration (the naive `a<b, b<c` join) puts
    * O(d_hub²) candidate wedges on any small-id hub — the classic
    * triangle-counting scale-killer this orientation exists to kill;
    * a pure star enumerates ZERO wedges here (all edges point AT the
    * hub, which then has no out-pairs — spec-asserted on a planted
    * hub fixture). Orientation is output-invariant: the triangle set
    * is identical, each found exactly once at its lowest-rank corner.
    * The two degree-attach joins are host-grain (the x119/x138
    * registrable-domain sizing) with no broadcast hint — AQE picks
    * broadcast at demo scale and a shuffle join when degrees outgrow
    * the driver budget. */
  private[graft] def orientByDegree(und: DataFrame, deg: DataFrame): DataFrame = {
    val da = deg.select(col("host").as("a"), col("degree").as("da"))
    val db = deg.select(col("host").as("b"), col("degree").as("db"))
    // und carries a<b, so the degree tie breaks lexicographically via
    // the existing endpoint order; rank = (degree, host)
    und.join(da, Seq("a")).join(db, Seq("b"))
      .select(
        when(col("da") < col("db"), struct(col("a").as("src"),
            col("b").as("dst"), col("db").as("ddst")))
          .when(col("da") === col("db"), struct(col("a").as("src"),
            col("b").as("dst"), col("db").as("ddst")))
          .otherwise(struct(col("b").as("src"),
            col("a").as("dst"), col("da").as("ddst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.ddst").as("ddst"))
  }

  def triangleProfile(edges: DataFrame): DataFrame = {
    val keyed = edges.filter(col("src_host") =!= col("dst_host"))
    // und is referenced three times (both degree legs + the orientation)
    // and o three times (the wedge join's two legs + the closing
    // semi-join); uncached, every reference re-ran the upstream edge
    // pipeline — for the x145 face that is the full corpus link-extract
    // regex explode per leg. Both frames are edge-list-sized and shared
    // within the returned plan.
    val und = keyed
      .select(least(col("src_host"), col("dst_host")).as("a"),
        greatest(col("src_host"), col("dst_host")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("host"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("host"), col("a").as("nbr")))
      .groupBy(col("host")).agg(count(lit(1)).as("degree"))
    val o = orientByDegree(und, deg)
    // wedges = pairs of out-edges of one source, the pair ordered by
    // rank so each wedge enumerates once; closed iff the (v → w)
    // oriented edge exists (rank(v) < rank(w) makes that the only
    // possible orientation of the closing edge)
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.src") === col("e2.src") &&
        (col("e1.ddst") < col("e2.ddst") ||
          (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))))
      .join(o.as("e3"),
        col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"),
        "left_semi")
      .select(explode(array(col("e1.src"), col("e1.dst"), col("e2.dst")))
        .as("host"))
      .groupBy(col("host")).agg(count(lit(1)).as("n_triangles"))
    graft.plans.Shared(deg.join(tri, Seq("host"), "left")
      .select(col("host"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .as("clustering")), und, o)
  }

  def triangleQuery(spark: SparkSession, dir: String): DataFrame =
    triangleProfile(linkGraphQuery(spark, dir))
      .orderBy(col("host"))

  /** The x138 queries() face: one step over the x114 planted graph with
    * x119's host verdicts as seeds — hub.example.com (unseeded, never a
    * document host) gets labeled purely from its neighborhood. */
  def labelPropagationQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val seeds = hostReputation(docs,
        concat(col("source"), lit(".example.com")))
      .select(col("host"), col("admitted").as("seed")).distinct()
    labelPropagation(linkGraphQuery(spark, dir), seeds)
      .orderBy(col("host"))
  }

  // ------------------------------------------- robots-style gate (x124)

  /** x124's demo rule table, shared with the DuckDB twin: a full-host
    * block, a path-prefix block, and a prefix that must NOT match
    * mid-segment lookalikes. */
  private[graft] val RobotsRules: Seq[(String, String)] = Seq(
    ("src3.example.com", "/"),        // whole host disallowed
    ("src7.example.com", "/p/1"),     // path-prefix disallow
    ("src11.example.com", "/private"))// prefix that never matches the plant

  /** x124: ROBOTS-STYLE PATH BLOCKLIST — the fetch-policy gate a
    * crawler applies between frontier dedup (x104) and the fetch:
    * a (host, path_prefix) disallow table, matched by host equality
    * plus literal path-prefix (`Disallow:` semantics — no globbing),
    * admit iff NO rule matches. Emits every record with the matched
    * prefix (null when admitted) — the audit shape, and the matched
    * rule is exactly what a crawl debugger asks for.
    *
    * Shape: canonicalize (map-only), LEFT join against the broadcast
    * KB-scale rule table on host with the prefix test in the join
    * condition, aggregate-free. At 100 TB the rule table is the small
    * side by ~9 orders of magnitude; the corpus never shuffles. A URL
    * matched by SEVERAL rules keeps the LONGEST prefix (most-specific,
    * deterministic). */
  def robotsGate(docs: DataFrame, rules: DataFrame,
                 urlCol: String = "url"): DataFrame = {
    val canoned = docs.select(col("doc_id"), col(urlCol).as("url"))
      .withColumn("canon", canonicalUrl(col("url")))
      .withColumn("host", urlHost(col("canon")))
      // the path is everything from the first '/', '' for a bare host;
      // query/fragment are gone or inert after canonicalization
      .withColumn("path", regexp_extract(col("canon"), "(/.*)$", 1))
    canoned
      .join(broadcast(rules.select(col("host"), col("path_prefix"))),
        canoned("host") === rules("host") &&
          startswith(col("path"), col("path_prefix")), "left")
      .groupBy(canoned("doc_id"), canoned("canon"), canoned("host"))
      // all prefixes matching ONE path are prefixes of that path, hence
      // nested — so the lexicographic max IS the longest (most-specific)
      .agg(max(col("path_prefix")).as("matched_prefix"))
      .select(col("doc_id"), col("canon"), col("host"), col("matched_prefix"),
        when(col("matched_prefix").isNull, 1L).otherwise(0L).as("admitted"))
  }

  /** The x124 queries() face: the x104 colliding URL plant against
    * [[RobotsRules]] — src3 fully blocked, src7 blocked only on the
    * /p/1* slots, src11's rule never fires. */
  def robotsGateQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val id = col("doc_id")
    val url = concat(
      when(id % 2 === 0, "HTTPS://").otherwise(lit("https://")),
      when(id % 3 === 0, "WWW.").otherwise(lit("")),
      col("source"), lit(".example.com/p/"), (id % 23).cast("string"),
      when(id % 5 === 0, "?utm_source=feed").otherwise(lit("")),
      when(id % 11 === 0, "#sec2").otherwise(lit("")))
    val rules = RobotsRules.toDF("host", "path_prefix")
    robotsGate(docs.withColumn("url", url), rules).orderBy(col("doc_id"))
  }
}
