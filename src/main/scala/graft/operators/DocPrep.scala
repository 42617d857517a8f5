package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Parallel, Tables}

/** The user-facing corpus-preparation entry point: one DataFrame program
  * composing the training-data stages this library provides —
  *
  *   1. held-out exclusion: reference (eval) slices never enter the
  *      training corpus;
  *   2. length gating (too-short documents);
  *   3. exact deduplication (min-id keeper wins);
  *   4. train/test decontamination (k-token span overlap with the
  *      reference slice, see [[Dedup.decontaminate]]).
  *
  * Instead of silently deleting rows, `prepare` returns EVERY input
  * document with a `drop_reason` column (null = kept) — the provenance
  * shape a data pipeline audits, samples, and re-runs with different
  * thresholds without re-reading the corpus. Reasons apply in the
  * precedence listed above; exactly one is reported.
  *
  * Scale shape: the length gate is a narrow projection; dedup is one
  * hash aggregate on the content key plus an equi-join back (at 100 TB
  * both sides would key on xxhash64(text) to keep the shuffle narrow —
  * kept as the raw text here so the report is cross-engine exact);
  * decontamination broadcasts the reference's distinct grams. Nothing
  * shuffles the corpus more than once per stage, and no stage is
  * quadratic.
  */
object DocPrep {

  def prepare(docs: DataFrame, refSources: Seq[String] = Seq("src0", "src1"),
              minTokens: Int = 40, k: Int = 4): DataFrame = {
    val isRef = col("source").isin(refSources.map(x => x: Any): _*)
    val withTok = docs.withColumn("n_tokens",
      size(TextAnalysis.wsTokens(col("text"))).cast("long"))
    val keepers = docs.groupBy(col("text")).agg(min(col("doc_id")).as("keep_id"))
    val contaminated = Dedup
      .decontaminate(docs.filter(!isRef), docs.filter(isRef), k)
      .filter(col("n_hit_spans") >= 1)
      .select(col("doc_id"), lit(true).as("contam"))
    withTok
      .join(keepers, Seq("text"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        when(isRef, "reference")
          .when(col("n_tokens") < minTokens, "too_short")
          .when(col("doc_id") =!= col("keep_id"), "duplicate")
          .when(col("contam"), "contaminated")
          .as("drop_reason"))
  }

  def prepQuery(spark: SparkSession, dir: String): DataFrame =
    prepare(Tables.load(spark, dir, "documents")).orderBy(col("doc_id"))

  /** x107: the corpus-assembly WATERFALL — the report a pipeline
    * publishes with every release: per source and per gate (kept /
    * reference / too_short / duplicate / contaminated), how many
    * documents and tokens land there. [[prepare]] already attributes
    * every document to exactly one gate; this is its per-source
    * token-accounted rollup — the number that justifies each gate's
    * existence ("dedup removed N% of src3's tokens") and the drift
    * alarm between releases. One extra narrow join (doc_id → source)
    * and a bounded aggregate (|sources| × |gates| rows) on top of the
    * x18 plan. */
  def waterfall(docs: DataFrame, refSources: Seq[String] = Seq("src0", "src1"),
                minTokens: Int = 40, k: Int = 4): DataFrame =
    prepare(docs, refSources, minTokens, k)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"),
        coalesce(col("drop_reason"), lit("kept")).as("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))

  def waterfallQuery(spark: SparkSession, dir: String): DataFrame =
    waterfall(Tables.load(spark, dir, "documents"))
      .orderBy(col("source"), col("stage"))

  // ------------------------------------------------ snapshot diff (x88)

  /** x88: corpus SNAPSHOT DIFF — the dataset-versioning report a
    * pipeline emits between two releases: per source, how many
    * documents were added, removed, changed (same key, different
    * content), or untouched. The operator is one full-outer join on the
    * document key plus a narrow classification — at 100 TB both sides
    * would key on xxhash64(text) for the change test (kept as raw text
    * equality here so the report is cross-engine exact), and the join
    * shuffles only (key, source, content-key), never document bodies.
    *
    * `source` comes from whichever side has the row (they agree when
    * both do — a key's source does not change between snapshots in
    * this corpus; a production diff would diff source too). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), col("source").as("src_o"),
      col("text").as("text_o"))
    val n = newSnap.select(col("doc_id"), col("source").as("src_n"),
      col("text").as("text_n"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_n"), col("src_o")).as("source"),
        when(col("text_o").isNull, "added")
          .when(col("text_n").isNull, "removed")
          .when(col("text_o") =!= col("text_n"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      .orderBy(col("source"))
  }

  /** The x88 queries() face: both snapshots derived DETERMINISTICALLY
    * from the one corpus table so the oracle can rebuild them —
    * old = every doc except id ≡ 0 (mod 17), with docs id ≡ 0 (mod 23)
    * carrying their text minus its last token (the "edited" rows);
    * new = every doc except id ≡ 0 (mod 19) with original text. So
    * id ≡ 0 (mod 17) rows read as added, ≡ 0 (mod 19) as removed,
    * ≡ 0 (mod 23) surviving both filters as changed. */
  def snapshotDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val toks = TextAnalysis.wsTokens(col("text"))
    val oldSnap = docs.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 23 === 0,
          array_join(slice(toks, lit(1), greatest(size(toks) - 1, lit(0))), " "))
          .otherwise(col("text")))
    val newSnap = docs.filter(col("doc_id") % 19 =!= 0)
    snapshotDiff(oldSnap, newSnap)
  }

  // ------------------------------------------ k-anonymity audit (x93)

  /** x93's anonymity threshold — shared with the DuckDB twin. */
  val KAnonK = 5L

  /** x93: K-ANONYMITY audit over the corpus's quasi-identifiers — the
    * release-governance check a training-data pipeline runs before
    * publishing corpus metadata: every (lang, source, size-bucket)
    * combination occurring fewer than k times is a re-identification
    * risk (its members are nearly unique under the published
    * attributes and must be suppressed or generalized). Output is one
    * row per observed combination with its population and an at_risk
    * verdict, plus the count of risky DOCS the suppression step would
    * touch (n_docs of risky rows sums to it).
    *
    * The size bucket is x66's power-of-two magnitude `length(bin(n))`
    * — integer-exact on both engines, no libm — a realistic
    * generalization ladder (publish magnitude, not exact length).
    *
    * Scale shape: one two-phase hash aggregate over narrow metadata
    * columns (text never scans); distinct-combination cardinality is
    * bounded by the attribute-domain product, not the corpus. */
  def kAnonymity(docs: DataFrame, k: Long): DataFrame =
    docs.groupBy(col("lang"), col("source"),
        length(bin(col("n_chars"))).cast("long").as("size_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("lang"), col("source"), col("size_bucket"), col("n_docs"),
        when(col("n_docs") < k, 1L).otherwise(0L).as("at_risk"))

  def kAnonQuery(spark: SparkSession, dir: String): DataFrame =
    kAnonymity(Tables.load(spark, dir, "documents"), KAnonK)
      .orderBy(col("lang"), col("source"), col("size_bucket"))

  // ------------------------------------------------- PII audit (x97)

  /** x97's detector set — deliberately simple patterns that mean the
    * SAME thing to Java's regex engine (Spark codegen) and RE2
    * (DuckDB): character classes, bounded repetition, `\b` word
    * boundaries; no backreferences, no lookaround (RE2 has neither),
    * no alternation whose ordered-preference semantics could diverge
    * (redaction applies the three patterns SEQUENTIALLY instead).
    * A production deployment swaps in a vetted detector battery; the
    * pipeline shape — count, redact, audit — is what this face pins. */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val PiiIpRe    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** x97: PII detection + redaction audit — the privacy gate a
    * training-data pipeline runs before release: per document, how many
    * email / US-phone / IPv4 literals appear, and the text length after
    * redacting each class to its `[CLASS]` token (the number every
    * downstream token-budget recomputation needs). Detection is
    * `regexp_count` over codegen'd regex — a narrow projection, no
    * shuffle, no UDF; at 100 TB this is a map-only pass whose cost is
    * the text scan itself.
    *
    * Redaction replaces classes in a FIXED order (email, phone, ip) so
    * the result is well-defined even where patterns could overlap —
    * and identical across engines without relying on alternation
    * preference semantics. */
  /** The x97 redaction image: the three classes replaced SEQUENTIALLY
    * in a fixed order (shared by the audit, the streaming gate, and
    * the DuckDB twin). */
  def redactPii(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(t, PiiEmailRe, "[EMAIL]"),
        PiiPhoneRe, "[PHONE]"),
      PiiIpRe, "[IP]")

  def piiAudit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: piiBaseCols: _*)
      .withColumn("pii_total", piiTotalExpr)
      .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
        col("pii_total"), col("raw_len"), col("redacted_len"))

  /** x97's count/length columns and total expression, shared verbatim
    * with the x163 fused panel (identity by construction). The five
    * columns unpack ONE native [[graft.functions.expressions.PiiStats]]
    * evaluation — the same java.util.regex patterns applied in the same
    * count/sequential-redact order the former six-expression
    * regexp_count/regexp_replace chain ran, which paid a separate text
    * pass and string materialization per expression (match-for-match
    * equality spec-gated, ExtrasSpec "x97 native kernel"). */
  private[graft] def piiBaseCols: Seq[org.apache.spark.sql.Column] = {
    val s = graft.functions.expressions.NativeExpressions.piiStats(
      col("text"), PiiEmailRe, PiiPhoneRe, PiiIpRe)
    Seq("n_email", "n_phone", "n_ip", "raw_len", "redacted_len")
      .map(f => s.getField(f).as(f))
  }

  private[graft] def piiTotalExpr: org.apache.spark.sql.Column =
    col("n_email") + col("n_phone") + col("n_ip")

  /** The x97 queries() face: the corpus text carries no PII (synthetic
    * words), so the face PLANTS it deterministically — doc_id residues
    * select which docs get an email (mod 5), phone (mod 7), or IPv4
    * (mod 11) literal appended, value derived from doc_id so the
    * DuckDB twin rebuilds the exact same corpus. Residue overlaps
    * (mod 35, 55, 77) yield multi-class docs; everything else is the
    * zero-count negative. */
  def piiQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Parallel.fanOut(Tables.load(spark, dir, "documents"))
    val id = col("doc_id")
    val planted = docs.withColumn("text", concat(col("text"),
      when(id % 5 === 0,
        concat(lit(" contact user"), id.cast("string"), lit("@example.com ok")))
        .otherwise(lit("")),
      when(id % 7 === 0,
        concat(lit(" call 555-867-"),
          lpad((id % 10000).cast("string"), 4, "0"), lit(" now")))
        .otherwise(lit("")),
      when(id % 11 === 0,
        concat(lit(" host 10."), (id % 256).cast("string"), lit(".0.1 up")))
        .otherwise(lit(""))))
    piiAudit(planted).orderBy(col("doc_id"))
  }

  // ------------------------------------- encoding-damage audit (x164)

  /** x164's detector constants, shared with the DuckDB oracle (the x97
    * single-source-of-truth discipline; every pattern means the same
    * thing to Java regex and RE2 — char classes only). */
  /** Unicode replacement character — the scar a lossy decode leaves. */
  private[graft] val ReplChar: String = "�"
  /** C0 controls except \t\n\r, plus DEL — bytes no clean text carries. */
  private[graft] val CtrlRe: String = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
  /** Everything OUTSIDE printable ASCII (strip target for the ascii mass). */
  private[graft] val NonAsciiRe: String = "[^ -~]"
  /** A run of 4+ spaces — table/layout debris that survives markup
    * stripping. */
  private[graft] val LongSpaceRe: String = " {4,}"

  /** x164: ENCODING-DAMAGE AUDIT — the structural cleanliness battery
    * a web-scale pipeline runs right after decode (the CCNet/FineWeb
    * "is this even text" grain, before any language or quality model):
    * per document, counts of U+FFFD replacement characters (lossy
    * decode scars), raw control bytes, printable-ASCII character mass,
    * and 4+-space layout runs, plus the all-integer verdict
    * `clean` = no replacement chars ∧ no control bytes ∧ no long
    * space runs. The ascii mass is a REPORT column (a ratio gate would
    * be wrong for non-Latin corpora — the curator decides per
    * language); the verdict gates only on unambiguous damage.
    *
    * Shape: one scan, narrow projection, shuffle-free — the x147
    * pattern, so the operator IS its own streaming face and fuses into
    * whatever scan consumes it. */
  def encodingAudit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +:
        length(col("text")).cast("long").as("n_chars") +: encodingBaseCols: _*)
      .withColumn("clean", encodingCleanExpr)

  /** x164's damage-count columns and verdict expression, shared
    * verbatim with the x163 fused panel (identity by construction;
    * the panel omits x164's `n_chars` — it equals x97's `raw_len`,
    * already on the panel). */
  private[graft] def encodingBaseCols: Seq[org.apache.spark.sql.Column] = {
    val t = col("text")
    Seq(regexp_count(t, lit(ReplChar)).cast("long").as("n_repl"),
      regexp_count(t, lit(CtrlRe)).cast("long").as("n_ctrl"),
      length(regexp_replace(t, NonAsciiRe, "")).cast("long").as("n_ascii"),
      regexp_count(t, lit(LongSpaceRe)).cast("long").as("n_longspace"))
  }

  private[graft] def encodingCleanExpr: org.apache.spark.sql.Column =
    when(col("n_repl") === 0L && col("n_ctrl") === 0L &&
      col("n_longspace") === 0L, 1L).otherwise(0L)

  /** The x164 queries() face: the synthetic corpus is clean, so the
    * face PLANTS damage deterministically (the x97 residue
    * discipline): mod-9 docs get a replacement char, mod-13 a BEL
    * control byte, mod-17 a four-space run; everything else is the
    * all-clean negative. */
  def encodingQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val id = col("doc_id")
    val planted = docs.withColumn("text", concat(col("text"),
      when(id % 9 === 0, lit(" bad" + ReplChar + "decode")).otherwise(lit("")),
      when(id % 13 === 0, lit(" bell\u0007byte")).otherwise(lit("")),
      when(id % 17 === 0, lit(" wide    gap")).otherwise(lit(""))))
    encodingAudit(planted).orderBy(col("doc_id"))
  }

  // --------------------------- context-length provisioning (x165)

  /** x165's candidate context lengths, shared with the DuckDB oracle.
    * Spans the sf0.01 length distribution (median ≈ 56) so every grid
    * point exercises both loss regimes. */
  private[graft] val ContextGrid: Seq[Long] = Seq(16L, 32L, 64L, 128L)

  /** x165: CONTEXT-LENGTH PROVISIONING SWEEP — x113 measures ONE
    * budget's truncation loss; this sweeps the whole tradeoff curve a
    * training run actually provisions against: for each candidate
    * max_len L, how many docs truncate, how much token mass the cut
    * drops (one doc per slot, tail truncated), how much PADDING the
    * un-dropped slots waste (L − kept per doc), and the resulting slot
    * utilization. Short L burns data to truncation; long L burns
    * compute to padding — this table is where the two curves cross
    * (packing, x21/x110, is the escape hatch; `util` prices exactly
    * what packing would recover). All-integer except the two
    * round-at-6 rates.
    *
    * Shape: ONE scan → narrow per-doc token count → the tiny grid
    * explodes per doc (|grid| rows each, a constant) → hash agg on
    * |grid| keys, partials collapsing map-side. The x144 sweep
    * discipline: the corpus is never rescanned per candidate. */
  def contextSweep(docs: DataFrame,
                   grid: Seq[Long] = ContextGrid): DataFrame = {
    require(grid.nonEmpty && grid.forall(_ > 0), s"contextSweep: grid=$grid")
    val n = col("n_tokens")
    val l = col("max_len")
    docs
      .select(size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens"))
      .select(n, explode(array(grid.map(lit): _*)).as("max_len"))
      .groupBy(l)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(n > l, 1L).otherwise(0L)).as("n_truncated"),
        sum(n).as("tokens_total"),
        sum(least(n, l)).as("tokens_kept"),
        sum(l - least(n, l)).as("pad_tokens"))
      .select(l, col("n_docs"), col("n_truncated"),
        col("tokens_total"), col("tokens_kept"),
        (col("tokens_total") - col("tokens_kept")).as("tokens_dropped"),
        col("pad_tokens"),
        round((col("tokens_total") - col("tokens_kept")).cast("double") /
          col("tokens_total").cast("double"), 6).as("drop_rate"),
        round(col("tokens_kept").cast("double") /
          (col("n_docs") * l).cast("double"), 6).as("util"))
  }

  def contextSweepQuery(spark: SparkSession, dir: String): DataFrame =
    contextSweep(Tables.load(spark, dir, "documents"))
      .orderBy(col("max_len"))

  // ------------------------------------- truncation accounting (x113)

  /** x113's context budget in tokens, shared with the DuckDB twin.
    * Sits at the corpus median (~56 at sf0.01), so roughly half the
    * docs truncate — both regimes exercised at every SF. */
  private[graft] val TruncMaxTokens: Long = 48L

  /** x113: TRUNCATION-LOSS ACCOUNTING — if every document is cut at a
    * fixed context budget of L tokens (the simplest fill strategy:
    * one doc per sequence, truncate the tail), how much of each
    * source's data survives? Per source: doc count, docs over budget,
    * total / kept / dropped tokens, and the drop rate. The report
    * that decides between truncation and chunking (x41) per source —
    * a feed losing 40% of its tokens to the cut needs chunked
    * ingestion, not a bigger corpus. All-integer except `drop_rate`:
    * ONE double division of two exact integers.
    *
    * Shape: one scan → narrow token count → hash agg on |source| keys;
    * map-side partials collapse everything before the shuffle. */
  def truncationLoss(docs: DataFrame, maxTokens: Long = TruncMaxTokens): DataFrame = {
    require(maxTokens > 0, s"truncationLoss: maxTokens=$maxTokens")
    val n = col("n_tokens")
    docs
      .select(col("source"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(n > maxTokens, 1L).otherwise(0L)).as("n_truncated"),
        sum(n).as("tokens_total"),
        sum(least(n, lit(maxTokens))).as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_truncated"),
        col("tokens_total"), col("tokens_kept"),
        (col("tokens_total") - col("tokens_kept")).as("tokens_dropped"),
        round((col("tokens_total") - col("tokens_kept")).cast("double") /
          col("tokens_total").cast("double"), 6).as("drop_rate"))
  }

  def truncationLossQuery(spark: SparkSession, dir: String): DataFrame =
    truncationLoss(Tables.load(spark, dir, "documents"))
      .orderBy(col("source"))

  // ------------------------------------- MLM masking audit (x142)

  /** x142's mask rate, shared with the DuckDB twin. */
  private[graft] val MaskRate: Double = 0.15

  /** x142: MASKED-LM PREPROCESSING AUDIT — the BERT-style 15% token
    * masking made deterministic: token (doc, pos) masks iff
    * hash(doc:pos) lands under [[MaskRate]] ([[Sampling.keepAtRate]]'s
    * bucket arithmetic, so the SAME positions mask on every engine,
    * every run, every worker — reproducible pretraining batches with
    * no RNG state to ship). Emits per doc the token/mask counts and
    * md5 of the masked text ('[MASK]' substituted in place) — the
    * content key that pins the full rewrite without shipping it.
    *
    * Shape: one scan → ONE in-row native pass (the x166 expression with
    * spanLen = 1) — no explode, no shuffle, its own streaming face;
    * the decision is a hash of (doc, pos), so nothing here needs an
    * exchange. */
  def mlmMaskAudit(docs: DataFrame, rate: Double = MaskRate): DataFrame = {
    require(rate >= 0 && rate <= 1, s"mlmMaskAudit: rate=$rate")
    // ONE in-row pass (the x166 shape): the old plan posexploded every
    // token, md5-hashed each, and re-assembled docs via a corpus-wide
    // groupBy + collect_list + array_sort — a full token-grain shuffle
    // and a doc-grain join purely to rebuild what a single projection
    // computes in place (guide §2.4: remove shuffles outright; §1.1
    // first-principles — the decision is per (doc, pos), so nothing
    // here fundamentally needs an exchange). The native expression is
    // keepAtRate's exact arithmetic per position (spec-gated by the
    // independent-hash-recomputation test).
    val sig = graft.functions.expressions.NativeExpressions.spanMaskRewrite(
      TextAnalysis.wsTokens(col("text")), col("doc_id"),
      spanLen = 1, rate = rate, salt = "mask", numbered = false)
    docs.select(col("doc_id"), sig.as("_mm"))
      .select(col("doc_id"),
        coalesce(col("_mm.n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("_mm.n_masked"), lit(0L)).as("n_masked"),
        md5(coalesce(col("_mm.out"), lit(""))).as("masked_key"))
  }

  def mlmMaskQuery(spark: SparkSession, dir: String): DataFrame =
    mlmMaskAudit(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  // --------------------------- span-corruption audit (x166)

  /** x166's span length / corruption rate / hash salt, shared with
    * the DuckDB oracle. */
  private[graft] val SpanLen: Int = 3
  private[graft] val SpanRate: Double = 0.15
  private[graft] val SpanSalt: String = "t5span"

  /** x166: SPAN-CORRUPTION PREPROCESSING AUDIT — the T5 pretraining
    * objective's input rewrite (Raffel et al. 2020: mask contiguous
    * spans, replace each with a unique `<extra_id_k>` sentinel) made
    * deterministic and shuffle-free: spans are STRIDE-ALIGNED — the
    * token stream tiles into [[SpanLen]]-token cells, and cell s
    * corrupts iff hash(doc:s) lands under [[SpanRate]] (x142's
    * keepAtRate arithmetic). Alignment is the scale move: whether
    * position i is inside a corrupted span depends ONLY on
    * hash(i − i mod L) — no sequential "does a previous span cover
    * me" chain, so the decision is a pure per-position expression on
    * any engine, any partitioning, identical everywhere (the
    * published sampler walks left to right; expected mask fraction
    * and span-length grain match at rate·L tokens per hit cell).
    * Emits per doc the token/span/masked counts and the md5 of the
    * sentinel-rewritten text — the content key that pins the exact
    * batch a trainer would see.
    *
    * Shape: ONE narrow in-row projection (the x154 pattern): the
    * token array binds once, per-cell hash flags and the sentinel
    * fold all run inside the row — no explode, no shuffle; the
    * operator is its own streaming face. */
  def spanCorruptAudit(docs: DataFrame, rate: Double = SpanRate,
                       spanLen: Int = SpanLen): DataFrame = {
    require(rate >= 0 && rate <= 1, s"spanCorruptAudit: rate=$rate")
    require(spanLen > 0, s"spanCorruptAudit: spanLen=$spanLen")
    // One native JVM pass per row (the minhashSignature precedent): the
    // composed form evaluated an interpreted aggregate() fold whose
    // accumulator string was re-copied at every append — O(doc_len²)
    // bytes per document — plus one md5 per TOKEN where one per CELL
    // decides the whole span. Identical arithmetic (keepAtRate's md5
    // bucket, same keys, same sentinel numbering), gated bit-for-bit by
    // the independent-JVM-reference spec and the DuckDB oracle.
    val sig = graft.functions.expressions.NativeExpressions.spanMaskRewrite(
      TextAnalysis.wsTokens(col("text")), col("doc_id"),
      spanLen = spanLen, rate = rate, salt = SpanSalt, numbered = true)
    docs.select(col("doc_id"), sig.as("_sc"))
      .select(col("doc_id"),
        coalesce(col("_sc.n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("_sc.n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("_sc.n_masked"), lit(0L)).as("n_masked"),
        md5(coalesce(col("_sc.out"), lit(""))).as("masked_key"))
  }

  def spanCorruptQuery(spark: SparkSession, dir: String): DataFrame =
    spanCorruptAudit(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))
}
