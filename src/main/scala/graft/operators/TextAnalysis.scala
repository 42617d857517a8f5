package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Parallel, Tables}

/** Text-analysis operators for a training-data pipeline: quality stats,
  * BPE-ish token counting, n-gram-free heuristic language ID, and
  * rolling-hash document fingerprinting. All built-in expressions
  * (regexp/split/aggregate) — fully distributed, codegen-friendly, and
  * (except langId's stopword tables) engine-agnostic enough to be
  * oracle-checked cell-exactly against DuckDB.
  */
object TextAnalysis {

  /** BPE-ish tokenizer: letter runs, digit runs, single non-alnum marks.
    * Same semantics under Java regex (Spark) and RE2 (DuckDB). */
  val tokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** Whitespace tokens (empty-safe). */
  def wsTokens(text: Column): Column = filter(split(text, " "), _ =!= "")

  /** Per-document integer quality signals — exact, so aggregates of them
    * hash-match any engine. Counting via `regexp_count` (one scan, no
    * intermediate replaced string) rather than
    * `length(regexp_replace(...))`; the integers are identical. */
  def qualitySignals(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("lang"), col("source"),
      length(col("text")).as("n_chars_m"),
      size(wsTokens(col("text"))).as("n_tokens"),
      regexp_count(col("text"), lit("[.!?,;:]")).as("n_punct"),
      regexp_count(col("text"), lit("[0-9]")).as("n_digits"),
      (length(col("text")) - regexp_count(col("text"), lit(" "))).as("n_nonspace"))

  /** Quality roll-up per lang (oracle-checked: integer sums only; the
    * derived ratios are computed by consumers from exact sums). */
  def qualityByLang(spark: SparkSession, dir: String): DataFrame =
    qualitySignals(Tables.load(spark, dir, "documents"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("n_punct")).as("sum_punct"),
        sum(col("n_digits")).as("sum_digits"),
        sum(col("n_nonspace")).as("sum_nonspace"))
      .orderBy(col("lang"))

  /** BPE-ish token counts per source. `regexp_count` counts matches
    * without materializing the per-doc match array that
    * `size(regexp_extract_all(...))` builds — same integers, no
    * allocation proportional to tokens-per-document. */
  def tokenCountBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"),
        regexp_count(col("text"), lit(tokenPattern)).as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_bpe_tokens"))
      .orderBy(col("source"))

  /** Rolling polynomial hash (base 31, mod 2^31-1) over the document's
    * codepoints — a deterministic content fingerprint. Modulo applied at
    * every step keeps the accumulator within long range (ANSI-safe).
    * Empty/null text pins to the seed: engines disagree on the codepoint
    * of "" (Spark ascii('')=0 vs DuckDB ord('')=-1), so it must not
    * reach the fold. */
  def fingerprint(text: Column): Column =
    when(text.isNull || length(text) === 0, lit(7L))
      .otherwise(aggregate(
        transform(split(text, ""), c => ascii(c).cast("long")),
        lit(7L),
        (acc, c) => (acc * 31 + c) % 2147483647L))

  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Parallel.fanOut(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Per-document repetition signals (the Gopher-style "repetitive
    * document" filters): token multiplicity and positional-2-gram
    * multiplicity. A doc whose top token (or 2-gram) covers a large
    * share of all tokens is boilerplate/spam; consumers derive the
    * fractions from these exact integer counts, so the report
    * hash-matches any engine.
    *
    * Shape at scale: each branch is explode → two-level hash aggregate
    * keyed first on (doc_id, term) then doc_id — partial aggregation
    * collapses within-partition repeats before the shuffle, and every
    * shuffle key includes doc_id, so hot *terms* never concentrate on
    * one reducer. The final joins are on doc_id (uniform). */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    def stats(terms: DataFrame, prefix: String): DataFrame =
      terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as(s"n_$prefix"),
          count(lit(1)).as(s"n_uniq_$prefix"),
          max(col("c")).as(s"top_${prefix}_n"))
    val toks = docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
    val grams = docs.select(col("doc_id"),
      explode(graft.functions.expressions.NativeExpressions
        .wordShinglesAll(wsTokens(col("text")), 2)).as("term"))
    docs.select(col("doc_id"))
      .join(stats(toks, "tok"), Seq("doc_id"), "left")
      .join(stats(grams, "2gram"), Seq("doc_id"), "left")
      .na.fill(0L)
  }

  def repetitionQuery(spark: SparkSession, dir: String): DataFrame =
    repetitionSignals(Tables.load(spark, dir, "documents")).orderBy(col("doc_id"))

  // ------------------------------------------------ quality funnel (x79)

  /** The sequential quality-rule funnel (x79), ordered by precedence: a
    * document drops at its FIRST failing rule. Each predicate is a SQL
    * string over the per-doc signal columns and is interpolated verbatim
    * into BOTH the Spark face (`expr`) and the DuckDB twin, so the two
    * engines run the same rule text — the drift-proofing the x77 zone
    * map gets from shared constants. Every rule is an INTEGER comparison
    * (ratios cross-multiplied), so the funnel is exact on any engine:
    *   - too_short: fewer than 40 whitespace tokens;
    *   - low_diversity: unique tokens under a third of tokens (the
    *     Gopher-style repetitive-document cut);
    *   - repetitive_2gram: the top positional bigram covers over 5%;
    *   - word_length: mean word length outside [4.25, 4.75] chars
    *     (tight around this corpus's center so the tail rule is
    *     exercised; a real corpus would use Gopher's [3, 10]). */
  val FunnelStages: Seq[(String, String)] = Seq(
    "too_short"        -> "n_tokens < 40",
    "low_diversity"    -> "n_uniq_tok * 3 < n_tok",
    "repetitive_2gram" -> "top_2gram_n * 20 > n_2gram",
    "word_length"      -> "n_nonspace * 4 < n_tokens * 17 OR n_nonspace * 4 > n_tokens * 19")

  /** x79: the corpus-curation FUNNEL REPORT — one row per quality rule
    * with (n_in, n_dropped, n_out) under sequential precedence; the last
    * row's n_out is the surviving corpus. This is the headline table of
    * a dataset card ("of N raw documents, rule 1 removed a, rule 2
    * removed b of the remainder, ..."), computed without materializing
    * any per-stage corpus: one narrow signal pass + the x12 repetition
    * aggregates produce a per-doc first-failed-stage index, and the
    * funnel arithmetic runs on the |rules|-row aggregate via a window
    * cumsum. Scale shape: everything heavy is per-doc hash aggregation
    * keyed on doc_id (uniform); the window sorts 4 rows. */
  def qualityFunnel(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = docs.select(col("doc_id"),
        size(wsTokens(col("text"))).cast("long").as("n_tokens"),
        (length(col("text")) - regexp_count(col("text"), lit(" ")))
          .cast("long").as("n_nonspace"))
      .join(repetitionSignals(docs), Seq("doc_id"))
    val firstFail = FunnelStages.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, ((_, pred), i)) => coalesce(acc, when(expr(pred), lit(i + 1)))
    }
    // shared within the returned plan: counts (≤ |stages|+1 rows) is
    // referenced by the total aggregate AND the stage join — unshared,
    // the whole corpus pipeline (two explode branches + doc-grain joins)
    // re-executed per reference (Catalyst does not dedupe a
    // multiply-referenced aggregate subtree; the x95 discipline)
    val counts = sig.select(firstFail.as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n_total"))
    val stages = FunnelStages.zipWithIndex
      .map { case ((name, _), i) => (i + 1, name) }.toDF("stage", "rule")
    val prior = Window.orderBy(col("stage"))
      .rowsBetween(Window.unboundedPreceding, -1)
    graft.plans.Shared(stages.join(counts, Seq("stage"), "left")
      .crossJoin(broadcast(total))
      .select(col("stage").cast("long"), col("rule"),
        coalesce(col("c"), lit(0L)).as("n_dropped"), col("n_total"))
      .withColumn("n_in",
        col("n_total") - coalesce(sum(col("n_dropped")).over(prior), lit(0L)))
      .select(col("stage"), col("rule"), col("n_in"), col("n_dropped"),
        (col("n_in") - col("n_dropped")).as("n_out"))
      .orderBy(col("stage")), counts)
  }

  def funnelQuery(spark: SparkSession, dir: String): DataFrame =
    qualityFunnel(Tables.load(spark, dir, "documents"))

  // ------------------------------------------------------------- PII scrub

  /** PII patterns for training-data scrubbing. Order matters: emails are
    * replaced before phones so the digits inside a mailbox name cannot be
    * half-eaten by the phone pattern.
    *
    * The phone pattern is recall-leaning (separated digit runs, the
    * standard scrubber tradeoff) with precision guards: the counting
    * lookahead demands >= 9 digits in the match (dates and date-times
    * have 8, real phone numbers 9-15); a 19xx/20xx year followed by a
    * date separator ANYWHERE in the candidate's separator/digit run
    * vetoes the match (ISO timestamps survive whole, even back-to-back
    * ones — at the cost of missing a real phone number immediately
    * adjacent to a year); and dot/slash are not general separators
    * (decimals, IPs, and 2024/01/01 dates survive), with the classic
    * dotted NNN.NNN.NNNN phone form matched by a dedicated exact-shape
    * alternative instead (a 3-3-4 digit split no date format uses).
    *
    * Upper bound: a candidate RUN holding >= 16 digits is vetoed
    * entirely (ITU E.164 caps phone numbers at 15 digits), so credit
    * card numbers, IBANs, and long account/serial codes are not
    * rewritten to <PHONE>. One run definition is used by every part of
    * the pattern — counting lookaheads, the veto, the protecting
    * lookbehind, and the match body: consecutive digits separated by AT
    * MOST 3 separator chars (no real phone format uses wider gaps).
    * That consistency is what makes the veto whole-run: the lookbehind
    * rejects start positions already inside a run (a digit at most 3
    * separator chars back), so the regex engine cannot retry mid-run
    * and redact a >= 9-digit suffix of a vetoed code, and a gap of >= 4
    * separators genuinely starts a NEW run for counting and protection
    * alike. Residual tradeoffs, both documented at scrubPii: 9-15 digit
    * non-phone identifiers are over-redacted, and a real phone number
    * within 3 separator chars of a preceding digit run (e.g. directly
    * after an order id) is counted into that run and can ride its >= 16
    * veto. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val phonePattern = "(?:\\+?\\b(?<![0-9][()\\[\\] -]{0,3})" +
    "(?!(?:[0-9][()\\[\\] -]{0,3})*(?:19|20)[0-9]{2}[-/. ])" +
    "(?=(?:[()\\[\\] -]{0,3}[0-9]){9})(?!(?:[()\\[\\] -]{0,3}[0-9]){16})" +
    "[0-9](?:[()\\[\\] -]{0,3}[0-9]){7,}" +
    "|\\b[0-9]{3}\\.[0-9]{3}\\.[0-9]{4}\\b)"

  /** The default scrub registry: an ORDERED (name, regex) list — order
    * is precedence (emails before phones so a mailbox's digits cannot be
    * half-eaten; IPs before phones so an address is not ALSO a phone).
    * Callers pass their own registry to add patterns (SSNs, API keys),
    * tighten the recall-leaning phone rule, or reorder precedence —
    * every entry redacts to `<NAME>`. */
  val defaultPiiPatterns: Seq[(String, String)] = Seq(
    "EMAIL" -> emailPattern,
    "IP" -> ipv4Pattern,
    "PHONE" -> phonePattern)

  /** Per-document PII hit counts (exact integers — aggregable and
    * oracle-friendly; the corpus decides whether they are zero). One
    * struct field `n_<lowercased name>` per registry entry. Counts
    * follow the same precedence as scrubPii: an IPv4 address is not
    * ALSO a phone number, so later patterns are counted on text with
    * earlier matches already redacted. */
  def piiSignals(text: Column,
                 patterns: Seq[(String, String)] = defaultPiiPatterns): Column = {
    require(patterns.nonEmpty, "piiSignals: empty pattern registry")
    require(patterns.map(_._1).distinct.size == patterns.size,
      s"piiSignals: duplicate pattern names in ${patterns.map(_._1)}")
    // fold the redaction chain, counting each pattern on the text with
    // all EARLIER patterns already redacted
    val (_, fields) = patterns.foldLeft((text, Seq.empty[Column])) {
      case ((cur, acc), (name, pat)) =>
        // regexp_count: same integer, no per-match string materialization
        val counted = regexp_count(cur, lit(pat))
          .as(s"n_${name.toLowerCase(java.util.Locale.ROOT)}")
        (regexp_replace(cur, pat, s"<$name>"), acc :+ counted)
    }
    struct(fields: _*)
  }

  /** Redact PII in place with typed placeholders. A pure codegen'd
    * regexp_replace chain — scrubbing a 100 TB corpus is one narrow
    * projection, no shuffle at all.
    *
    * Recall-leaning by design: any separated run of 9-15 digits becomes
    * <PHONE>, so numeric-heavy corpora (invoices, logs with order ids)
    * will see non-phone identifiers in that digit range redacted too.
    * Runs of >= 16 digits (cards, IBANs) and date/timestamp shapes are
    * preserved — see [[phonePattern]], including what counts as one
    * "run" (gaps of at most 3 separator chars) and the two edges that
    * definition leaves: a phone adjacent to a preceding digit run can
    * ride the run's >= 16-digit veto, and a phone adjacent to a
    * following year/timestamp is vetoed by the date guard. Corpora
    * where 9-15 digit identifiers are load-bearing should pre-mask
    * them or swap in a stricter pattern set via the `patterns` registry
    * (ordered: each pattern rewrites the text the previous ones already
    * redacted, so earlier entries take precedence). */
  def scrubPii(text: Column,
               patterns: Seq[(String, String)] = defaultPiiPatterns): Column = {
    require(patterns.nonEmpty, "scrubPii: empty pattern registry")
    patterns.foldLeft(text) { case (cur, (name, pat)) =>
      regexp_replace(cur, pat, s"<$name>")
    }
  }

  /** Stopword profiles for heuristic language ID. Small on purpose — the
    * operator's shape (broadcast-free scoring, argmax) is the point; real
    * deployments swap richer profiles in. */
  val stopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "it", "that", "was"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los", "un", "una", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "nicht", "mit", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "de", "est", "une", "que", "pas", "pour"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  /** Characteristic character trigrams per language (space-padded word
    * boundaries matter: " th" is English, "sch" German, "ión" Spanish…). */
  val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" th", "the", "ing", "and", "ion", " of", "ed ", "ent"),
    "es" -> Seq(" de", "que", "ión", "los", "ado", " la", "nte", "cio"),
    "de" -> Seq("sch", "ich", "ein", "und", "der", "cht", "gen", "ung"),
    "fr" -> Seq(" le", "les", "ent", "que", "eur", "ait", "ion", " de"))

  private val langs: Seq[String] = stopwordProfiles.map(_._1)

  /** Detected language = argmax of (3 * stopword hits + distinct
    * profile-trigram hits — the n-gram heuristic); 'und' when nothing
    * matches. Ties resolve to the first profile in declaration order
    * (stable).
    *
    * Unspaced scripts (zh): whitespace tokenization yields no stopword
    * hits, so single-character stopwords are additionally matched against
    * the text's character unigrams — that is what makes zh detectable at
    * all. All signals are array ops over let-bound sets. */
  def detectLang(text: Column): Column = {
    import graft.functions.VectorFunctions.bindArray
    import graft.functions.expressions.NativeExpressions.substringHits
    val triByLang = trigramProfiles.toMap
    bindArray(wsTokens(lower(text))) { toks =>
      val lowered = lower(text)
      val scoreExprs = langs.map { lang =>
        val words = stopwordProfiles.toMap.apply(lang)
        // char matching (substring hits) is for unspaced scripts only: an
        // ASCII single-char stopword ("a", "y") would otherwise fire on
        // any text containing that letter
        val (charWords, tokenWords) = words.partition(w => w.length == 1 && w.head > 127)
        val tokenHits =
          if (tokenWords.nonEmpty) size(array_intersect(toks, array(tokenWords.map(lit): _*)))
          else lit(0)
        val charHits =
          if (charWords.nonEmpty) substringHits(lowered, charWords) else lit(0)
        val triHits = triByLang.get(lang) match {
          // trigram profile hit = the trigram occurs in the text — same
          // predicate as membership in the text's distinct-trigram set,
          // without materializing that set per row
          case Some(tris) => substringHits(lowered, tris)
          case None => lit(0)
        }
        (tokenHits + charHits) * 3 + triHits
      }
      bindArray(array(scoreExprs: _*)) { scores =>
        val best = array_max(scores)
        langs.zipWithIndex.foldRight(lit("und"): Column) { case ((lang, i), acc) =>
          when(best > 0 && element_at(scores, i + 1) === best, lit(lang)).otherwise(acc)
        }
      }
    }
  }

  // ------------------------------------------------- vocabulary discovery

  /** Top `k` terms per group by DOCUMENT frequency (the stopword/vocab
    * discovery query). Scale shape: explode per-doc DISTINCT tokens →
    * two-phase count aggregate keyed on (group, term) — uniform keys, no
    * hot-group skew — then a bounded [[graft.functions.TopKTermAggregator]]
    * heap per group. The heap is the load-bearing choice: the per-group
    * candidate set is the group's distinct VOCABULARY (billions of terms
    * at corpus scale), which a `row_number` window would have to fully
    * sort per group; the heap partial-aggregates to k rows per partition
    * before the final shuffle. Ties: count desc, then term asc. */
  def topTermsByDf(docs: DataFrame, group: Column, textCol: Column,
                   k: Int): DataFrame = {
    require(k > 0, s"topTermsByDf: k=$k")
    val topk = udaf(new graft.functions.TopKTermAggregator(k))
    docs
      .select(group.as("_grp"),
        explode(array_distinct(wsTokens(textCol))).as("token"))
      .groupBy(col("_grp"), col("token"))
      .agg(count(lit(1)).as("df"))
      .groupBy(col("_grp"))
      .agg(topk(col("df"), col("token")).as("_top"))
      .select(col("_grp"), explode(col("_top")).as("_t"))
      .select(col("_grp"), col("_t.term").as("token"), col("_t.score").as("df"))
  }

  /** x43's k, shared with the DuckDB oracle. */
  private[graft] val TopTermsK: Int = 10

  /** x43: the 10 highest-document-frequency tokens per language. Oracle:
    * the row_number window form of the same selection. */
  def topTermsQuery(spark: SparkSession, dir: String): DataFrame =
    topTermsByDf(Tables.load(spark, dir, "documents"),
        col("lang"), col("text"), TopTermsK)
      .withColumnRenamed("_grp", "lang")
      .orderBy(col("lang"), col("df").desc, col("token"))

  // ------------------------------------------------------- heavy hitters

  /** Exact heavy hitters: every item whose frequency is at least a
    * 1/`share` fraction of the whole stream (freq * share >= N), with
    * its exact count — identical output to the single
    * `groupBy(item).count().filter(...)` it replaces. Two passes:
    *
    *   pass 1 — per-partition Misra-Gries summaries of `capacity`
    *     counters. The surviving keys are a guaranteed superset of the
    *     answer: an item absent from a partition's final summary has
    *     partition count <= N_p/(capacity+1) (each of its arrivals was
    *     cancelled by a decrement round that also consumed `capacity`
    *     other arrivals); if that held in EVERY partition, summing gives
    *     global count <= N/(capacity+1) < N/share when capacity >= share
    *     — so a truly heavy item survives somewhere.
    *   pass 2 — exact recount restricted to the candidates (a semi-join
    *     whose right side is <= capacity rows per partition, so it
    *     broadcasts), then the share filter against the exact total.
    *
    * Why at 100 TB: the plain groupBy shuffles one partial count per
    * DISTINCT key per partition — for token/URL/n-gram multisets that is
    * the full long tail of the vocabulary. Here the tail never leaves
    * its partition; the shuffle carries candidate keys only.
    *
    * @param items    single-column DataFrame (any type; counted as text)
    * @param share    heaviness denominator: keep freq*share >= N
    * @param capacity Misra-Gries counters per partition; must be >=
    *                 share (the superset guarantee above), default =
    *                 share. More counters = fewer false candidates. */
  def heavyHitters(items: DataFrame, share: Int, capacity: Int = 0): DataFrame = {
    require(share >= 2, s"heavyHitters: share=$share")
    val cap = if (capacity > 0) capacity else share
    require(cap >= share,
      s"heavyHitters: capacity=$cap < share=$share loses the superset guarantee")
    val spark = items.sparkSession
    import spark.implicits._
    val itemCol = items.columns.head
    val str = items.select(col(itemCol).cast("string").as("item"))
    // pass 1 emits each partition's surviving keys PLUS its exact row
    // count (the marker row), so the exact total needs no extra scan.
    // The collect is bounded by partitions x (capacity+1) rows — the
    // same budget the candidate broadcast below already commits to.
    val summary = str.as[String].mapPartitions { it =>
      var n = 0L
      val counted = it.map { x => n += 1; x }
      val keys = misraGries(counted, cap).toArray // consumes the iterator
      keys.iterator.map(k => (false, k, 0L)) ++ Iterator.single((true, null: String, n))
    }.toDF("is_total", "item", "cnt").collect()
    val nTotal = summary.filter(_.getBoolean(0)).map(_.getLong(2)).sum
    val candKeys = summary.filter(!_.getBoolean(0))
      .map(r => if (r.isNullAt(1)) null else r.getString(1)).distinct.toSeq
    if (candKeys.isEmpty)
      return str.limit(0).withColumn("freq", lit(0L))
        .select(col("item"), col("freq"))
    val cand = candKeys.toDF("_cand_item")
    str
      // null-safe semi join: a heavy NULL item must survive to the
      // recount exactly as it survives the plain groupBy twin.
      // explicit hint: cand is bounded by construction, but the local
      // relation's size estimate could still exceed the broadcast
      // threshold default
      .join(broadcast(cand), col("item") <=> col("_cand_item"), "left_semi")
      .groupBy(col("item")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") * share >= lit(nTotal))
      .select(col("item"), col("freq"))
  }

  /** Misra-Gries streaming summary: at most `capacity` counters; emits
    * the surviving keys. The decrement-all round is O(capacity) but
    * amortized O(1) per item — each round consumes capacity+1 arrivals
    * (the new item plus one unit from every counter). */
  private[graft] def misraGries(it: Iterator[String],
                                capacity: Int): Iterator[String] = {
    val counts = new java.util.HashMap[String, java.lang.Long]()
    while (it.hasNext) {
      val x = it.next()
      val c = counts.get(x)
      if (c != null) counts.put(x, c + 1L)
      else if (counts.size < capacity) counts.put(x, 1L)
      else {
        val eit = counts.entrySet().iterator()
        while (eit.hasNext) {
          val e = eit.next()
          if (e.getValue == 1L) eit.remove() else e.setValue(e.getValue - 1L)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    counts.keySet().iterator().asScala
  }

  /** x47's heaviness denominator: bigrams covering >= 1/800 of all
    * bigram occurrences (shared with the DuckDB oracle). */
  private[graft] val HeavyShare: Int = 800

  /** x47: exact heavy-hitter word bigrams via the Misra-Gries two-pass
    * plan. Oracle: the plain GROUP BY/HAVING twin — outputs are defined
    * to coincide. */
  def heavyHittersQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val bigrams = docs.select(
      explode(Dedup.wordShinglesAll(col("text"), 2)).as("item"))
    heavyHitters(bigrams, HeavyShare, capacity = 1024)
      .withColumnRenamed("item", "bigram")
      .orderBy(col("freq").desc, col("bigram"))
  }

  // ------------------------------------------------------------- TF-IDF

  /** x48's k, shared with the DuckDB oracle. */
  private[graft] val TfIdfK: Int = 5

  /** Per-document top-k TF-IDF terms: the keyword / distinctive-term
    * extractor of a corpus-analysis pipeline. score = tf * ln(N / df)
    * with the x23 determinism discipline — the one transcendental (ln)
    * is rounded to 6 decimals and carried as DECIMAL(18,6), so the value
    * and every rank comparison are engine-independent (a flip needs the
    * true score within ~1e-15 of a 5e-7 rounding boundary).
    *
    * Scale shape: one scan of the corpus. tf is a two-phase count agg on
    * (doc_id, term) — uniform composite keys, no hot-key skew; df is a
    * count over the postings' term partitions (no join back through the
    * corpus subtree — Catalyst does not dedupe a twice-referenced
    * aggregate, see the x23 note); N broadcasts as a one-row stats
    * frame; the final per-doc top-k is a window over doc_id partitions
    * (high-cardinality key, WindowGroupLimit pushes the k-limit before
    * the shuffle). */
  def tfIdfTopK(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"tfIdfTopK: k=$k")
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
    val scored = tf
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
          .cast("decimal(18,6)").cast("double").as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** x48: top-5 TF-IDF terms per document. */
  def tfIdfQuery(spark: SparkSession, dir: String): DataFrame =
    tfIdfTopK(Tables.load(spark, dir, "documents"), TfIdfK)
      .orderBy(col("doc_id"), col("rank"))

  // ------------------------------------------------------ quality bins

  /** x53's bucket count, shared with the twins. */
  private[graft] val QualityDeciles: Int = 10

  /** x53: per-language quality deciles — every document binned 1..10 by
    * token count within its language (decile 10 = longest). The
    * corpus-curation primitive behind "train on the top-k quality
    * deciles" recipes. ntile over a TOTAL order (n_tokens, doc_id), so
    * bucket boundaries are deterministic cross-engine (both engines
    * give the first `n mod 10` buckets the extra row, per standard
    * ntile). Scale shape: one shuffle on lang; the per-language sort is
    * the window's — fine while a language's docs fit an executor's
    * spill budget, and languages parallelize. When one language
    * outgrows that (the true 100 TB hot group), use
    * [[qualityDecilesDistributed]] — identical buckets from the
    * range-partitioned grouped rank, spec-asserted row-identical. */
  def qualityDecilesQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_tokens"), col("doc_id"))
    docs
      .select(col("doc_id"), col("lang"),
        size(wsTokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("decile", ntile(QualityDeciles).over(w))
      .orderBy(col("doc_id"))
  }

  /** The 100 TB face of x53: the same deciles WITHOUT the per-language
    * window sort. Rank within language comes from
    * [[graft.operators.Sampling.groupedRanks]] (range partition + two-
    * job grouped prefix scan — a hot language spans many tasks), the
    * per-language count joins back as a broadcast (|languages| rows),
    * and the bucket is ntile's closed form on (rank, n): with
    * q = n div k and rem = n mod k, the first rem buckets hold q+1 rows.
    * Integer-exact, row-identical to the window form by spec. */
  def qualityDecilesDistributed(docs: DataFrame,
                                numPartitions: Int = 0): DataFrame = {
    val k = QualityDeciles
    val base = docs.select(col("doc_id"), col("lang"),
      size(wsTokens(col("text"))).cast("long").as("n_tokens"))
    val ranked = graft.operators.Sampling.groupedRanks(base, Seq("lang"),
      Seq(col("n_tokens"), col("doc_id")), "rk", numPartitions)
    val counts = base.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    ranked.join(broadcast(counts), Seq("lang"))
      .withColumn("decile",
        (when(col("rk") <= (expr(s"n div $k") + 1) * (col("n") % k),
          expr(s"(rk - 1) div (n div $k + 1)"))
          .otherwise(col("n") % k +
            expr(s"(rk - 1 - (n div $k + 1) * (n % $k)) div (n div $k)"))
          + 1).cast("int"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("decile"))
  }

  // ------------------------------------------------- n-gram LM counts

  /** x57's cut, shared with the DuckDB oracle. */
  private[graft] val NgramLmTopN: Int = 100

  /** Bigram language-model count table with Kneser-Ney continuation
    * counts: for each (w1, w2) bigram its corpus count, plus the two
    * distinct-neighbor statistics KN smoothing interpolates with —
    * `n_right` = |{w : c(w1, w) > 0}| (w1's continuation fan-out) and
    * `n_left` = |{w : c(w, w2) > 0}| (w2's continuation count, the
    * numerator of the KN lower-order distribution). Counts are exact
    * integers, so the table is cell-exact cross-engine.
    *
    * Scale shape: ONE corpus scan — bigrams explode from the positional
    * shingle kernel and collapse in a two-phase count agg keyed on the
    * (w1, w2) composite (partial agg absorbs hot bigrams map-side);
    * both continuation stats are windows over the AGGREGATED table
    * (vocabulary-sized, orders of magnitude under the corpus), never a
    * second scan or a join back through the corpus subtree (the x23/x48
    * no-self-join discipline). The top-N cut is a TakeOrderedAndProject
    * over a deterministic (cnt desc, w1, w2) total order. */
  def ngramLm(docs: DataFrame, topN: Int): DataFrame = {
    require(topN > 0, s"ngramLm: topN=$topN")
    val pc = docs
      .select(explode(graft.functions.expressions.NativeExpressions
        .wordShinglesAll(wsTokens(col("text")), 2)).as("bg"))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    pc
      .withColumn("n_right", count(lit(1)).over(Window.partitionBy(col("w1"))))
      .withColumn("n_left", count(lit(1)).over(Window.partitionBy(col("w2"))))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** x57: top-100 bigram LM counts with KN continuation statistics. */
  def ngramLmQuery(spark: SparkSession, dir: String): DataFrame =
    ngramLm(Tables.load(spark, dir, "documents"), NgramLmTopN)

  // --------------------------------------------- vocabulary coverage

  /** x63's vocabulary size, shared with the DuckDB oracle. */
  private[graft] val OovVocabN: Int = 50

  /** Vocabulary-coverage report: per document, how many tokens fall
    * OUTSIDE the corpus's top-`vocabN` terms by total count — the
    * out-of-vocabulary rate a tokenizer/corpus report tracks (high OOV
    * share → the vocabulary or the document is wrong for the other).
    * Counts are exact integers, cell-exact cross-engine; the vocabulary
    * cut is the (cnt desc, term) total order.
    *
    * Scale shape: two scans by construction (a frozen vocabulary needs
    * a full pass before any document can be scored): pass 1 is a
    * two-phase count agg + TakeOrderedAndProject top-N; pass 2 explodes
    * tokens once, semi-joins the BROADCAST vocabulary (N rows), and
    * collapses per doc — the corpus never shuffles on the term key in
    * pass 2. For a production pipeline the vocabulary persists and
    * pass 1 amortizes to zero (the frozen-baseline-gate discipline). */
  def oovReport(docs: DataFrame, vocabN: Int): DataFrame =
    oovGate(docs, corpusVocab(docs, vocabN))

  /** Pass 1 of [[oovReport]]: the corpus top-`vocabN` terms by total
    * count on the (cnt desc, term) total order — persist this and feed
    * [[oovGate]] to amortize the vocabulary scan to zero. */
  def corpusVocab(docs: DataFrame, vocabN: Int): DataFrame = {
    require(vocabN > 0, s"corpusVocab: vocabN=$vocabN")
    docs.select(explode(wsTokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("term")).limit(vocabN)
      .select("term")
  }

  /** x63: per-document OOV counts against the corpus top-50 vocabulary. */
  def oovQuery(spark: SparkSession, dir: String): DataFrame =
    oovReport(Tables.load(spark, dir, "documents"), OovVocabN)
      .orderBy(col("doc_id"))

  /** [[oovReport]]'s scoring pass against a FROZEN one-column `term`
    * vocabulary (persist [[oovReport]]'s pass-1 cut, or any external
    * vocab): per doc, total and out-of-vocabulary token counts. The
    * scored side never shuffles on terms (broadcast semi-join) and
    * carries no state — usable on a streaming frame as-is, the fourth
    * frozen-baseline gate. Equals [[oovReport]] when fed its own
    * corpus vocabulary (spec-asserted). */
  def oovGate(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val hits = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      .join(broadcast(vocab.select("term")), Seq("term"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("_n_iv"))
    docs.select(col("doc_id"),
        size(wsTokens(col("text"))).cast("long").as("n_tokens"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_oov", col("n_tokens") - coalesce(col("_n_iv"), lit(0L)))
      .drop("_n_iv")
  }

  // --------------------------------------------- text normalization

  /** Canonical text image ([[graft.functions.expressions.NativeOps
    * .normalizeText]]): NFC + lowercase + whitespace collapse — run
    * before exact/near dedup so trivially different encodings of one
    * document collapse to one key. Pure codegen'd projection: zero
    * shuffle, linear, composes with x01/x44 by swapping `text` for
    * `norm_text`. */
  def normalizeQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.expressions.NativeExpressions
          .normalizeText(col("text")).as("norm_text"))
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
      .orderBy(col("doc_id"))

  /** Confusion-style report: labeled lang × detected lang counts. */
  def langIdReport(spark: SparkSession, dir: String): DataFrame =
    Parallel.fanOut(Tables.load(spark, dir, "documents"))
      .select(col("lang"), detectLang(col("text")).as("detected"))
      .groupBy(col("lang"), col("detected"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("detected"))

  // ------------------------------------------------------- data card

  /** x65: the per-source DATA CARD — the one-page corpus summary a
    * training-data release ships (docs, token volume, language spread,
    * exact-duplicate share, length extremes), per source plus a TOTAL
    * row from the same scan via `rollup`. Distinct-text counting keys
    * on `md5(text)` (identical strings cross-engine), so the shuffle
    * carries 32-hex keys instead of whole documents — the x44
    * discipline applied to a distinct-count.
    *
    * Scale shape: one corpus scan; rollup = one two-phase agg producing
    * both grouping sets (the x15 grouping-sets discipline — never a
    * second scan for the TOTAL row). The distinct-counts make the agg
    * buffer per-group set-backed; at extreme cardinality swap in
    * approx_count_distinct (HLL, mergeable — x15's kernel) with the
    * same call shape. */
  def dataCard(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("lang"), md5(col("text")).as("_tk"),
        size(wsTokens(col("text"))).cast("long").as("_nt"))
      .rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("n_tokens"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("_tk")).as("n_uniq_texts"),
        min(col("_nt")).as("min_tokens"),
        max(col("_nt")).as("max_tokens"))
      .withColumn("source", coalesce(col("source"), lit("TOTAL")))
      .withColumn("n_dup_docs", col("n_docs") - col("n_uniq_texts"))

  def dataCardQuery(spark: SparkSession, dir: String): DataFrame =
    dataCard(Tables.load(spark, dir, "documents")).orderBy(col("source"))

  // ---------------------------------------- LM perplexity-proxy score

  /** x67: per-document mean bigram log-probability under the corpus's
    * own add-one-smoothed bigram LM — the KenLM-style perplexity-proxy
    * quality filter (docs scoring far below the corpus mean are
    * boilerplate, noise, or wrong-language; the standard companion to
    * the x09/x12 heuristic filters). P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V)
    * with V the unigram vocabulary size; each bigram's ln goes through
    * the x23/x48 determinism discipline (round to 6 decimals into
    * DECIMAL(18,6)) so the one transcendental cannot flake the
    * cross-engine compare, and the per-doc mean is an exact decimal
    * dot-product divided once in double.
    *
    * Scale shape: the count tables chain docBg → corpus agg → a context
    * WINDOW over the vocabulary²-sized aggregate (the x57 discipline —
    * never a window over per-DOC bigrams, whose hot-bigram partitions
    * would buffer unboundedly, and never a third aggregate whose
    * multiply-referenced subtree Catalyst would re-execute); scoring is
    * ONE keyed join of doc-bigrams to that table. The bigram explode
    * appears twice in the static plan (both join sides root in docBg —
    * the no-dedup-of-aggregate-subtrees limitation), but the two
    * subtrees share their first exchange, which exchange reuse
    * collapses at runtime. The vocabulary scalar rides a broadcast
    * cross join (the x48 stats shape). Zero-bigram docs surface with
    * n_bigrams = 0 and a null score (a report, not a filter). */
  def lmDocScore(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), explode(graft.functions.expressions
        .NativeExpressions.wordShinglesAll(wsTokens(col("text")), 2)).as("bg"))
      .select(col("doc_id"),
        substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
    val docBg = bg.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("dc"))
    val corpus = docBg.groupBy(col("w1"), col("w2"))
      .agg(sum(col("dc")).as("c12"))
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy(col("w1"))))
    val vocab = docs.select(explode(wsTokens(col("text"))).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    val scored = docBg
      .join(corpus, Seq("w1", "w2"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("dc"),
        round(log((col("c12") + lit(1L)).cast("double") /
          (col("c1") + col("v")).cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("dc")).as("n_bigrams"),
        (sum(col("dc") * col("lp")).cast("double") / sum(col("dc")))
          .as("avg_logp"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }

  def lmScoreQuery(spark: SparkSession, dir: String): DataFrame =
    lmDocScore(Tables.load(spark, dir, "documents")).orderBy(col("doc_id"))

  /** Persist the x67 bigram LM as a READY-TO-SCORE artifact: one
    * (w1, w2, lp) row per corpus bigram with
    * lp = round6(ln((c12+1)/(c1+V))) — exactly the per-bigram value
    * [[lmDocScore]] computes inline, precomputed once so a live gate
    * ([[graft.streaming.StreamingOps.lmGateStream]]) never touches the
    * training corpus again. This is the KenLM deployment shape the
    * CCNet pipeline ships: train the LM on the curated corpus, score
    * every crawl against the frozen model. Bigram-grain (corpus-
    * vocabulary sized, an artifact not a broadcast); published
    * atomically. */
  def saveLmModel(docs: DataFrame, path: String): Unit =
    graft.core.DeltaIndex.publish(docs.sparkSession, path) { dir =>
      val bg = docs
        .select(explode(graft.functions.expressions.NativeExpressions
          .wordShinglesAll(wsTokens(col("text")), 2)).as("bg"))
        .select(substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"))
      val corpus = bg.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
        .withColumn("c1", sum(col("c12")).over(Window.partitionBy(col("w1"))))
      val vocab = docs.select(explode(wsTokens(col("text"))).as("t"))
        .agg(count_distinct(col("t")).as("v"))
      corpus.crossJoin(broadcast(vocab))
        .select(col("w1"), col("w2"),
          round(log((col("c12") + lit(1L)).cast("double") /
            (col("c1") + col("v")).cast("double")), 6)
            .cast("decimal(18,6)").as("lp"))
        .write.mode("overwrite").parquet(s"$dir/lp")
    }

  /** Score documents against a frozen bigram-LM table (the body the
    * batch-vs-model spec face and the live gate share): per doc, the
    * count of MODELED bigram occurrences and their mean lp — identical
    * arithmetic to [[lmDocScore]] when every bigram is modeled
    * (same-corpus replay; spec-asserted). An UNSEEN bigram contributes
    * to neither numerator nor denominator (the dsirScoreAgainst
    * contract — the alternative, a backoff term, is a modeling choice
    * the caller can bake into the artifact); zero-bigram docs stay in
    * the report with a null score via explode_outer. */
  def lmScoreAgainst(docs: DataFrame, lp: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode_outer(graft.functions.expressions.NativeExpressions
          .wordShinglesAll(wsTokens(col("text")), 2)).as("bg"))
      .select(col("doc_id"),
        substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
      .join(lp, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("lp")).as("n_bigrams"),
        (sum(col("lp")).cast("double") / count(col("lp"))).as("avg_logp"))

  // --------------------------------------------- PMI collocations

  /** x70's cut and noise floor, shared with the DuckDB oracle. */
  private[graft] val PmiMinCount: Long = 5L
  private[graft] val PmiTopN: Int = 100

  /** x70: top-N collocations by pointwise mutual information —
    * PMI(w1,w2) = ln( P(w1,w2) / (P(w1)P(w2)) ) over the positional
    * bigram table, the association-mining face of x57's count table
    * (phrase discovery / tokenizer-merge candidates). Bigrams under
    * `minCount` are dropped first (PMI's low-frequency pathology).
    * Determinism: the marginals are exact integer window sums over the
    * AGGREGATED table; the one float expression is evaluated in the
    * same shape on both engines — (c12/c1) * (T/c2), each step IEEE
    * correctly-rounded so the doubles are identical — and the ln goes
    * through the 6-decimal rounding discipline; ties on the rounded
    * PMI break on (w1, w2). No i64 overflow at any scale: products
    * never form, only correctly-rounded double ratios.
    *
    * Scale shape: one corpus scan into the (w1,w2) count agg; both
    * marginals and the total are windows/broadcasts over the
    * vocabulary-sized table (x57's no-second-scan discipline); the
    * top-N is a TakeOrderedAndProject on (pmi desc, w1, w2). */
  def pmiCollocations(docs: DataFrame, minCount: Long, topN: Int): DataFrame = {
    require(minCount >= 1 && topN > 0, s"pmiCollocations: minCount=$minCount topN=$topN")
    val pc = docs
      .select(explode(graft.functions.expressions.NativeExpressions
        .wordShinglesAll(wsTokens(col("text")), 2)).as("bg"))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val tot = pc.agg(sum(col("c12")).as("t"))
    pc
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy(col("w1"))))
      .withColumn("c2", sum(col("c12")).over(Window.partitionBy(col("w2"))))
      .crossJoin(broadcast(tot))
      .filter(col("c12") >= minCount)
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12").cast("double") / col("c1")) *
          (col("t").cast("double") / col("c2"))), 6)
          .cast("decimal(18,6)").cast("double").as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  def pmiQuery(spark: SparkSession, dir: String): DataFrame =
    pmiCollocations(Tables.load(spark, dir, "documents"), PmiMinCount, PmiTopN)

  // ------------------------------------------- token entropy (x81)

  /** x81: per-document unigram (token) Shannon entropy in nats — the
    * distribution-SHAPE quality signal the x09/x12 heuristics miss: a
    * doc of one token repeated n times scores 0, a doc with no repeats
    * scores ln(n). Low entropy flags boilerplate/template repetition
    * (complementing x12's repeated-ngram share, which sees adjacency
    * but not global imbalance); anomalously high entropy flags token
    * soup that defeats every dictionary signal.
    *
    * Determinism: H = (Σ_t c_t·lp_t) / n with lp_t = round(ln(n/c_t),
    * 6) into DECIMAL(18,6) — the x67 discipline: the one transcendental
    * rounds BEFORE the exact decimal dot product with the integer
    * counts, and the single division happens once in double. n/c_t is
    * two correctly-rounded int→double casts and one correctly-rounded
    * division, so both engines hand ln the identical double.
    *
    * Scale shape: one scan → (doc, term) hash agg → per-doc window over
    * the AGGREGATED table (bounded by the doc's type count — never a
    * window over raw tokens) → per-doc agg. Zero-token docs surface
    * with zero counts and a null entropy via the final left join (a
    * report, not a filter). */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("c"))
    val per = tc
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("c"), col("n"),
        round(log(col("n").cast("double") / col("c").cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(first(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        (sum(col("c") * col("lp")).cast("double") / first(col("n"))).as("entropy"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        col("entropy"))
  }

  def tokenEntropyQuery(spark: SparkSession, dir: String): DataFrame =
    tokenEntropy(Tables.load(spark, dir, "documents")).orderBy(col("doc_id"))

  // ------------------------------------- per-source KL drift (x82)

  /** x82: per-source unigram KL divergence from the whole-corpus token
    * distribution — KL(P_s ‖ P_corpus) = Σ_t (c_st/n_s)·ln((c_st/n_s) /
    * (C_t/N)) — the corpus-mix drift detector: which feeds' token
    * distributions sit far from the blend they are mixed into. A crawl
    * snapshot whose KL jumps between ingests is the re-weight trigger
    * for the x20/x22/x68 mixers; a source whose KL ≈ 0 adds volume but
    * no distributional diversity. Every source term appears in the
    * corpus marginal by construction, so no smoothing is needed and
    * every ln argument is finite and positive (KL ≥ 0 exactly).
    *
    * Determinism: the ln argument is (c_st/n_s)·(N/C_t) — two
    * correctly-rounded divisions and one multiplication, the exact x70
    * PMI shape (no i64 product can overflow: products never form, only
    * double ratios) — rounded at 6 decimals into DECIMAL(18,6); the sum
    * is the exact decimal dot product with the integer counts, divided
    * once in double (the x67/x81 weighted-mean discipline).
    *
    * Scale shape: one scan → (source, term) hash agg; the term marginal
    * and per-source total are windows over the vocabulary-sized
    * aggregate, the corpus total a broadcast 1-row cross join (the
    * x57/x70 no-second-scan discipline). Output is |sources| rows. */
  def sourceKlDrift(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(col("source"), explode(wsTokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
    val tot = tc.agg(sum(col("c")).as("n"))
    tc
      .withColumn("ns", sum(col("c")).over(Window.partitionBy(col("source"))))
      .withColumn("ct", sum(col("c")).over(Window.partitionBy(col("t"))))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("c"), col("ns"),
        round(log((col("c").cast("double") / col("ns")) *
          (col("n").cast("double") / col("ct"))), 6)
          .cast("decimal(18,6)").as("lp"))
      .groupBy(col("source"))
      .agg(first(col("ns")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        (sum(col("c") * col("lp")).cast("double") / first(col("ns"))).as("kl"))
  }

  def klDriftQuery(spark: SparkSession, dir: String): DataFrame =
    sourceKlDrift(Tables.load(spark, dir, "documents")).orderBy(col("source"))

  // ------------------------------------------- boilerplate share (x89)

  /** x89 commonness cut: a gram is boilerplate when it appears in at
    * least 1/[[BoilerDocShare]] of all documents (integer test
    * df·share ≥ n_docs). */
  val BoilerDocShare = 20

  /** x89: per-document BOILERPLATE SHARE — what fraction of a document
    * is made of n-grams that recur across a large slice of the corpus
    * (navigation chrome, license headers, templated phrasing). The
    * mirror image of the rare-gram dedup signal: x03 keeps rare grams
    * to find copies, this counts COMMON grams to find documents that
    * are mostly template — the CCNet-style cleaning cut that length and
    * punctuation heuristics miss. A doc with n_boiler ≈ n_grams carries
    * no novel content regardless of its length score.
    *
    * Scale shape: one scan → positional grams; the document-frequency
    * cut comes from the DISTINCT (doc, gram) aggregate (never raw
    * positions), the corpus doc count is a broadcast 1-row cross join,
    * and the per-doc recount joins positions against the small common
    * set — the x16 decontamination discipline with the df filter
    * inverted. Output is |docs| rows. */
  def boilerplateShare(docs: DataFrame, n: Int = 3): DataFrame = {
    val pos = docs
      .select(col("doc_id"),
        explode(Dedup.wordShinglesAll(col("text"), n)).as("gram"))
    val df = pos.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val common = df.crossJoin(broadcast(nDocs))
      .filter(col("df") * BoilerDocShare >= col("n_docs"))
      .select(col("gram"))
    val per = pos
      .join(common.withColumn("hit", lit(1L)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_boiler"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        // explicit null for gram-less docs: double 0/0 is engine-NaN in
        // Spark but NULL in DuckDB — don't let the corpus decide
        when(col("n_grams") > 0,
          col("n_boiler").cast("double") / col("n_grams")).as("boiler_share"))
  }

  def boilerplateQuery(spark: SparkSession, dir: String): DataFrame =
    boilerplateShare(Tables.load(spark, dir, "documents")).orderBy(col("doc_id"))

  // ---------------------------------------------- gram novelty (x90)

  /** x90: per-document GRAM NOVELTY under the corpus's doc_id ingestion
    * order — the share of a document's distinct n-grams that no
    * earlier document contains (first_seen == this doc). The
    * incremental-corpus growth curve: novelty ≈ 1 means genuinely new
    * content, novelty ≈ 0 means the document restates what the corpus
    * already holds — the document-level screen for diminishing returns
    * when appending crawl batches (x55's decontamination machinery
    * asks "is it in the eval set"; this asks "is it already in the
    * corpus").
    *
    * Scale shape: the first-seen owner per gram is a min over the
    * DISTINCT (doc, gram) aggregate; the per-doc shares are one more
    * aggregate over the same frame — the raw positional stream is
    * never shuffled, and nothing is quadratic. Output is |docs| rows. */
  def gramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val dg = docs
      .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), n)).as("gram"))
    val firstSeen = dg.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    val per = dg.join(firstSeen, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_new"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        when(col("n_grams") > 0,
          col("n_new").cast("double") / col("n_grams")).as("novelty"))
  }

  def noveltyQuery(spark: SparkSession, dir: String): DataFrame =
    gramNovelty(Tables.load(spark, dir, "documents")).orderBy(col("doc_id"))

  // ------------------- novelty against a persisted corpus index (x91)

  /** The queries()-face split: docs below this id are "the corpus so
    * far", the rest are "the arriving batch" (the documents table holds
    * 500 rows at every shipped SF). */
  val NoveltySplitId = 400L

  /** Persist a corpus's distinct n-gram set — the NOVELTY INDEX an
    * incremental ingestion pipeline scores each new crawl batch
    * against (x90 answers "what was novel under ingestion order",
    * offline; this is its production face: the corpus is already
    * ingested, batches arrive forever, and re-scanning old data per
    * batch is the thing a 100 TB pipeline cannot do). Atomic publish,
    * same artifact discipline as the decontamination grams / MinHash
    * buckets / IVF lists. At scale, store hashed gram keys
    * ([[graft.operators.Dedup.gramKey]]) to shuffle 8-byte longs. */
  def saveGramIndex(docs: DataFrame, path: String, n: Int = 3): Unit =
    graft.core.DeltaIndex.publish(docs.sparkSession, path) { dir =>
      docs.select(explode(Dedup.wordShingles(col("text"), n)).as("gram"))
        .distinct()
        .write.mode("overwrite").parquet(s"$dir/grams")
    }

  /** Load the current generation ([[graft.core.DeltaIndex.current]]). */
  def loadGramIndex(spark: SparkSession, path: String): DataFrame = {
    val root = graft.core.DeltaIndex.current(spark, path)
    spark.read.parquet(s"$root/grams")
  }

  /** Per-doc novelty of `batch` against a frozen gram set: the share of
    * each document's distinct n-grams ABSENT from the index. Unlike
    * x90's order-based first-seen, batch-internal repeats do not claim
    * ownership — two new docs sharing a new gram both count it unseen
    * (the index updates between batches, not within one).
    *
    * Shape: one distinct-gram projection of the batch, one equi-join
    * against the index on gram (shuffle on gram keys — a corpus-scale
    * gram index is NOT broadcastable, unlike x16's eval-set grams), one
    * per-doc aggregate. Batch cost is O(batch grams), independent of
    * corpus size — the point of the persisted index. */
  def noveltyAgainst(batch: DataFrame, indexGrams: DataFrame, n: Int = 3): DataFrame = {
    val dg = batch
      .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), n)).as("gram"))
    val marked = dg
      // index grams are distinct by construction → the join marks, never
      // fans out
      .join(indexGrams.select(col("gram")).withColumn("_known", lit(1L)),
        Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_known").isNull, 1L).otherwise(0L)).as("n_unseen"))
    batch.select(col("doc_id")).join(marked, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        when(col("n_grams") > 0,
          col("n_unseen").cast("double") / col("n_grams")).as("novelty"))
  }

  /** x91 queries() face: the corpus-so-far/arriving-batch split derived
    * deterministically from doc_id so the oracle can rebuild both sides
    * (the persisted-index path is spec-gated, the x55 discipline). */
  def noveltyIncrQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val old = docs.filter(col("doc_id") < NoveltySplitId)
    val batch = docs.filter(col("doc_id") >= NoveltySplitId)
    val idx = old.select(explode(Dedup.wordShingles(col("text"), 3)).as("gram"))
      .distinct()
    noveltyAgainst(batch, idx).orderBy(col("doc_id"))
  }

  // ------------------------------------------- script mix (x108)

  /** x108's script ranges as LITERAL character-class regexes — actual
    * characters, not engine-specific `\p{...}` names (Java spells
    * scripts `\p{IsCyrillic}`, RE2 `\p{Cyrillic}` — the literal-range
    * subset is the dialect both engines read identically, per-codepoint).
    * BMP, non-combining ranges only, so DuckDB's grapheme-counting and
    * Spark's codepoint-counting semantics also agree. */
  val LatinRe    = "[A-Za-z]"
  val CyrillicRe = "[Ѐ-ӿ]"
  val GreekRe    = "[Ͱ-Ͽ]"
  val CjkRe      = "[一-鿿]"

  /** x108: SCRIPT MIX — per document, how many characters belong to
    * each writing system (Latin / Cyrillic / Greek / CJK / digits) and
    * which script dominates (count argmax, ties broken by the fixed
    * list order above). Script detection is the step BEFORE language
    * ID in a multilingual crawl — x08's n-gram heuristic only makes
    * sense within a script, and mixed-script documents (spam,
    * transliteration, mojibake) get routed to their own lane. Map-only
    * regex counting at scan cost. */
  def scriptMix(docs: DataFrame): DataFrame = {
    val t = col("text")
    val counted = docs.select(col("doc_id"),
      regexp_count(t, lit(LatinRe)).cast("long").as("n_latin"),
      regexp_count(t, lit(CyrillicRe)).cast("long").as("n_cyrillic"),
      regexp_count(t, lit(GreekRe)).cast("long").as("n_greek"),
      regexp_count(t, lit(CjkRe)).cast("long").as("n_cjk"),
      regexp_count(t, lit("[0-9]")).cast("long").as("n_digit"))
    counted.withColumn("script",
      // strict-> on later entries = earlier script wins ties (fixed order)
      when(col("n_cyrillic") > col("n_latin") &&
        col("n_cyrillic") >= col("n_greek") &&
        col("n_cyrillic") >= col("n_cjk"), "cyrillic")
        .when(col("n_greek") > col("n_latin") &&
          col("n_greek") > col("n_cyrillic") &&
          col("n_greek") >= col("n_cjk"), "greek")
        .when(col("n_cjk") > col("n_latin") &&
          col("n_cjk") > col("n_cyrillic") &&
          col("n_cjk") > col("n_greek"), "cjk")
        .otherwise("latin"))
  }

  /** The x108 queries() face: the corpus is pure ASCII, so script
    * blocks are PLANTED by doc_id residue (Cyrillic at mod 4, Greek at
    * mod 6, CJK at mod 9 — overlaps give mixed-script docs); the twin
    * rebuilds the identical text, and only counts/labels are emitted
    * (no unicode column reaches the hasher). */
  def scriptMixQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val id = col("doc_id")
    val planted = docs.withColumn("text", concat(col("text"),
      when(id % 4 === 0, " привет мир да").otherwise(lit("")),
      when(id % 6 === 0, " αβγ δεζ").otherwise(lit("")),
      when(id % 9 === 0, " 你好世界").otherwise(lit(""))))
    scriptMix(planted).orderBy(col("doc_id"))
  }

  // --------------------------------- source vocabulary overlap (x95)

  /** x95: the SOURCE OVERLAP MATRIX — exact Jaccard between every pair
    * of sources' distinct n-gram sets. x52's contamination matrix
    * counts verified DOC pairs (who copied whom); this measures
    * corpus-level REDUNDANCY between feeds (how much of src_a's
    * content-space src_b already covers) — the "is this new crawl feed
    * worth licensing" number, and the source-granular form of x90's
    * novelty. All-integer set arithmetic; the one jaccard double is a
    * single division of exact longs (IEEE correctly-rounded, identical
    * cross-engine).
    *
    * Scale shape: the gram-keyed self-join is df-bounded per gram (a
    * gram in s sources contributes C(s,2) pairs, s ≤ |sources|); the
    * pair grid is |sources|² rows — driver-scale — so the left-join
    * back fills absent intersections with 0 deterministically. The
    * sketch swap-in at 10⁵+ sources is x15's HLL union per pair. */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    // shared within the returned plan: the distinct (source, gram) frame
    // is referenced by the sizes aggregate AND the pair miner, and
    // Catalyst does not dedupe a multiply-referenced aggregate subtree —
    // unshared, the scan→shingle→explode→distinct pipeline ran once per
    // reference (x46's discipline)
    val sg = docs.select(col("source"),
        explode(Dedup.wordShingles(col("text"), n)).as("gram"))
      .distinct()
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    // pairs from WITHIN each gram's source group, not a gram-keyed
    // self-join (the x03 shape): the join shuffled the gram TEXT twice
    // and re-built the distinct pipeline per side; collect_list is safe
    // because sg is distinct on (source, gram) — each group holds at
    // most |source alphabet| entries
    val inter = sg.groupBy(col("gram"))
      .agg(collect_list(col("source")).as("_ss"))
      .select(explode(col("_ss")).as("source_a"), col("_ss"))
      .select(col("source_a"), explode(col("_ss")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    val grid = sizes.select(col("source").as("source_a"), col("n").as("n_a"))
      .crossJoin(sizes.select(col("source").as("source_b"), col("n").as("n_b")))
      .filter(col("source_a") < col("source_b"))
    graft.plans.Shared(grid.join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / col("n_union")), sg)
  }

  def sourceOverlapQuery(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables.load(spark, dir, "documents"))
      .orderBy(col("source_a"), col("source_b"))

  // --------------------------------------- corpus growth curve (x96)

  /** x96's ingestion-bucket width (docs per batch) — shared with the
    * DuckDB twin. */
  val GrowthBucketDocs = 50L

  /** x96: the CORPUS GROWTH CURVE — per ingestion bucket (doc_id
    * order, [[GrowthBucketDocs]] docs each): docs and tokens added,
    * distinct n-grams FIRST SEEN in that bucket, and the cumulative
    * distinct-gram count. The diminishing-returns report behind "stop
    * crawling this feed": x90 scores novelty per document, this is the
    * corpus-level curve procurement actually reads (when new-grams per
    * bucket flattens, more of the same data buys nothing).
    *
    * Scale shape: first-seen owner per gram is a min over the DISTINCT
    * (doc, gram) aggregate (x90's frame); everything after is
    * bucket-grain — the running total is a window over |buckets| rows,
    * never raw data. All-integer output. */
  def growthCurve(docs: DataFrame, n: Int = 3): DataFrame = {
    val bucketOf = (c: Column) => floor(c / GrowthBucketDocs).cast("long")
    val perBucket = docs
      .groupBy(bucketOf(col("doc_id")).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(wsTokens(col("text"))).cast("long")).as("n_tokens"))
    val firstSeen = docs
      .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), n)).as("gram"))
      .groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    val newGrams = firstSeen
      .groupBy(bucketOf(col("first_doc")).as("bucket"))
      .agg(count(lit(1)).as("n_new_grams"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newGrams, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_new_grams"), lit(0L)).as("n_new_grams"))
      .withColumn("cum_grams", sum(col("n_new_grams")).over(w))
  }

  def growthCurveQuery(spark: SparkSession, dir: String): DataFrame =
    growthCurve(Tables.load(spark, dir, "documents"))
      .orderBy(col("bucket"))

  // ------------------------------------ BPE pair-merge step (x109)

  /** x109's pair budget, shared with the DuckDB twin. */
  private[graft] val BpeTopPairs: Int = 50

  /** x109: one BPE MERGE ITERATION at the character level — the most
    * frequent ADJACENT character pairs inside whitespace words, weighted
    * by word occurrence (not word type): exactly the statistic byte-pair
    * encoding ranks to pick its next merge, so running this to a fixed
    * point IS tokenizer vocabulary induction over the corpus. Words
    * stay un-deduplicated on purpose — BPE counts a pair once per
    * occurrence, and deduplicating first would re-weight the corpus by
    * type instead of token.
    *
    * Shape: one scan → explode words → explode per-word adjacent pairs
    * (`transform` over `sequence`, codegen'd; single-char words are
    * filtered BEFORE the sequence so Spark's descending `sequence(1,0)`
    * corner never fires) → hash count with map-side partial aggregation
    * → `TakeOrderedAndProject` for the top-N. The pair space is tiny
    * (alphabet², independent of corpus size), so the post-shuffle state
    * is KBs at any scale; the explode itself is the irreducible
    * tokenizer-induction cost and stays embarrassingly parallel. */
  def bpePairs(docs: DataFrame, topN: Int = BpeTopPairs): DataFrame = {
    val w = col("w")
    docs.select(explode(wsTokens(col("text"))).as("w"))
      .filter(length(w) >= 2)
      .select(explode(transform(
        sequence(lit(1), (length(w) - 1).cast("int")),
        i => w.substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_pair"))
      .orderBy(col("n_pair").desc, col("pair"))
      .limit(topN)
  }

  def bpePairsQuery(spark: SparkSession, dir: String): DataFrame =
    bpePairs(Parallel.fanOut(Tables.load(spark, dir, "documents")))

  // --------------------------- iterated BPE merge table (x161)

  /** x161's merge-step count and the pair-key separator (a control
    * char outside every corpus symbol), shared with the DuckDB twin. */
  private[graft] val BpeMergeSteps: Int = 3
  private[graft] val BpeSep: String = "\u0001"

  /** Adjacent symbol pairs of one word's symbol array, keyed
    * `a SEP b` — empty for single-symbol words. */
  private[graft] def symbolPairs(s: Column): Column =
    when(size(s) >= 2,
      transform(sequence(lit(1), size(s) - 1),
        i => concat(element_at(s, i), lit(BpeSep), element_at(s, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** One leftmost-greedy merge pass: every non-overlapping occurrence
    * of adjacent (a, b) becomes the single symbol a||b, scanning left
    * to right — BPE's exact rewrite rule. A fold suffices because a
    * merged symbol can never itself be the LEFT half of the same pair
    * (a||b = a would need b empty), so "aaa" under (a,a) correctly
    * gives [aa, a]. In-row, shuffle-free. */
  private[graft] def mergePass(s: Column, a: String, b: String): Column =
    aggregate(s, array().cast("array<string>"), (acc, sym) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && sym === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(sym))))

  /** x161: ITERATED BPE VOCABULARY INDUCTION — [[BpeMergeSteps]] full
    * merge rounds of byte-pair encoding over the corpus (Sennrich et
    * al. 2016): each round counts adjacent symbol pairs across every
    * word OCCURRENCE (x109's statistic), merges the most frequent pair
    * everywhere (leftmost-greedy, non-overlapping), and repeats on the
    * REWRITTEN corpus. The output is the merge TABLE — (step, left,
    * right, merged, n_pair) — which IS the trained tokenizer artifact
    * every BPE implementation replays at encode time; x109 is one round
    * of this loop's statistic, x161 runs the loop. Ties break
    * (count DESC, pair ASC) — deterministic on any engine.
    *
    * Shape at scale — the Sennrich et al. 2016 grain: the corpus is
    * scanned ONCE, aggregating occurrences down to the DISTINCT-word
    * table (symbols, n) ([[bpeWordTable]]; distinct words stay
    * distinct under every merge — symbol arrays concatenate back to
    * the word — so the table never needs re-aggregation). Every merge
    * round then costs VOCABULARY-sized work: one explode→sum pair
    * aggregate weighted by n (identical statistic to counting raw
    * occurrences), a 1-row TakeOrdered collect (bounded — the codebook
    * discipline), and one narrow in-row merge map over the word table,
    * LINEAGE-CUT each round (the x101/x138 fixpoint discipline —
    * lazily, so the next round's pair-count action is also the round's
    * materialization, and the round-before-last's blocks are freed as
    * soon as they are no longer read). The cut matters twice over: it
    * keeps round k's plan constant-size (a chain of k cached rewrites
    * is linear to EXECUTE but exponential to RENDER — each nested AQE
    * subplan prints both its Final and Initial sections — which at
    * realistic k kills the driver before any arithmetic does), and it
    * never re-runs rounds 1..k−1's rewrites. Realistic merge counts
    * (k in the tens of thousands) therefore cost k·|vocab|, not k
    * corpus scans — corpus-size-independent after the first aggregate.
    * PlanSpec gates that no round past the word-table build ever scans
    * the corpus. Pass `checkpointDir` on real clusters so round blocks
    * survive executor loss (reliable checkpoints instead of
    * executor-local ones). */
  def bpeMergeTable(docs: DataFrame,
                    steps: Int = BpeMergeSteps,
                    checkpointDir: Option[String] = None): DataFrame =
    bpeMergeTableImpl(docs, steps, (_, _) => (), checkpointDir)

  /** The one corpus scan behind x161: whitespace words aggregated to
    * the distinct-word grain, each carried as its current symbol
    * array plus its corpus occurrence count. */
  private[graft] def bpeWordTable(docs: DataFrame): DataFrame =
    docs.select(explode(wsTokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(split(col("w"), "").as("s"), col("n"))

  /** Loop body with a per-round plan probe (spec hook): `probe(step,
    * pairCounts)` fires before each round's top-1 collect, letting
    * PlanSpec assert no merge round ever rescans the corpus. */
  private[graft] def bpeMergeTableImpl(docs: DataFrame, steps: Int,
      probe: (Int, DataFrame) => Unit,
      checkpointDir: Option[String] = None): DataFrame = {
    require(steps > 0, s"bpeMergeTable: steps=$steps")
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.core.IterUtil
    IterUtil.ensureCheckpointDir(spark, checkpointDir)
    val reliable = checkpointDir.isDefined
    // the one corpus scan; persisted so round 1's count and round 1's
    // rewrite (materialized by round 2's collect) share a single build,
    // and released when the loop is done
    val table = bpeWordTable(docs).persist()
    var words = table
    // lineage-cut handles: `last` backs the CURRENT words (must stay
    // alive until the next round materializes), `beforeLast` is freed
    // as soon as that happens
    var last: Option[DataFrame] = None
    var beforeLast: Option[DataFrame] = None
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    try while (step <= steps && !exhausted) {
      val pairCounts = words.select(explode(symbolPairs(col("s"))).as("p"), col("n"))
        .groupBy(col("p")).agg(sum(col("n")).as("n"))
        .orderBy(col("n").desc, col("p")).limit(1)
      probe(step, pairCounts)
      val top = pairCounts.collect() // also materializes the lazy cut
      beforeLast.foreach(IterUtil.free)
      beforeLast = last
      if (top.isEmpty) exhausted = true
      else {
        val parts = top(0).getString(0).split(BpeSep, 2)
        val (a, b, n) = (parts(0), parts(1), top(0).getLong(1))
        out += ((step, a, b, a + b, n))
        val cut = IterUtil.cutLazy(
          words.select(mergePass(col("s"), a, b).as("s"), col("n")), reliable)
        last = Some(cut)
        words = cut
      }
      step += 1
    } finally table.unpersist()
    last.foreach(IterUtil.free)
    beforeLast.foreach(IterUtil.free)
    out.toSeq.toDF("step", "lhs", "rhs", "merged", "n_pair")
  }

  def bpeMergeQuery(spark: SparkSession, dir: String): DataFrame =
    bpeMergeTable(Tables.load(spark, dir, "documents"))
      .orderBy(col("step"))

  /** ENCODE with a frozen x161 merge table: replay the merges in step
    * order over each document's words — exactly what a BPE tokenizer
    * does at inference — and report the per-document token count under
    * the trained vocabulary (chars before any merge, fewer after).
    * The merge table is collected once (k rows, bounded by the trained
    * vocabulary size) and compiled into k chained in-row folds: ONE
    * stateless narrow projection, so it runs unchanged on a stream —
    * the live "how many tokens will this document cost" meter behind
    * every token-budget gate (x56), priced in the TRAINED tokenizer
    * instead of the whitespace proxy. Same-corpus replay equals the
    * training loop's final state (spec-asserted). */
  def bpeEncodedCounts(docs: DataFrame, merges: DataFrame): DataFrame = {
    val steps = merges.select(col("step"), col("lhs"), col("rhs"))
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
    val words = wsTokens(col("text"))
    val perWord = steps.foldLeft(
        (w: Column) => split(w, "")) { (enc, ab) =>
      (w: Column) => mergePass(enc(w), ab._1, ab._2)
    }
    docs.select(col("doc_id"),
      coalesce(size(words), lit(0)).cast("long").as("n_words"),
      coalesce(aggregate(transform(words, w => size(perWord(w))),
        lit(0L), (acc, n) => acc + n), lit(0L)).as("n_bpe_tokens"))
  }

  // ------------------------------------------- Zipf slope (x112)

  /** x112's per-source rank budget, shared with the DuckDB twin. */
  private[graft] val ZipfTopTerms: Int = 100

  /** x112: per-source ZIPF SLOPE — an OLS fit of ln(frequency) on
    * ln(rank) over each source's top terms. A healthy natural-language
    * corpus sits near slope −1 (Zipf's law); a source whose slope is
    * much shallower is template/boilerplate-heavy (flat head), much
    * steeper is degenerate repetition — so the slope is a one-number
    * distributional health check per feed, complementing x82's KL
    * drift (which needs the corpus blend; this is intrinsic).
    *
    * Determinism, the x80 moment method: ln(rank) and ln(count) are
    * rounded at 6 decimals into DECIMAL(18,6) (the x81/x82
    * transcendental discipline); the four OLS moments (Σx, Σy, Σxy,
    * Σx²) are exact decimal sums over those pinned images — order-
    * independent, cross-engine identical — and each moment casts to
    * DOUBLE once before the SAME closed-form slope expression
    * (identical parenthesization) runs on both engines, rounded to 6.
    * Ranks are total-ordered (count desc, term asc), so both engines
    * agree on rank assignment exactly.
    *
    * Shape: one scan → (source, term) hash agg → per-source top-K via a
    * rank window over the aggregated (vocabulary-sized, not corpus-
    * sized) frame → |sources|·K rows into the OLS aggregate. Nothing
    * after the first aggregate touches raw data. */
  def zipfSlope(docs: DataFrame, topK: Int = ZipfTopTerms): DataFrame = {
    val tc = docs
      .select(col("source"), explode(wsTokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
    val rw = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("t"))
    val m = tc.withColumn("r", row_number().over(rw))
      .filter(col("r") <= topK)
      .select(col("source"),
        round(log(col("r").cast("double")), 6).cast("decimal(18,6)").as("x"),
        round(log(col("c").cast("double")), 6).cast("decimal(18,6)").as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"))
    val n = col("n_terms").cast("double")
    m.select(col("source"), col("n_terms"),
      round((n * col("sxy") - col("sx") * col("sy")) /
        nullif(n * col("sxx") - col("sx") * col("sx"), lit(0d)), 6)
        .as("zipf_slope"))
  }

  def zipfSlopeQuery(spark: SparkSession, dir: String): DataFrame =
    zipfSlope(Tables.load(spark, dir, "documents"))
      .orderBy(col("source"))

  // ------------------------------- vocabulary concentration (x118)

  /** x118's coverage target in percent, shared with the DuckDB twin. */
  private[graft] val VocabCoverPct: Long = 90L

  /** x118: VOCABULARY CONCENTRATION — per source: how many of its
    * top-ranked terms cover `pct`% of its token mass, and the share
    * the head actually covers at that cut. A tokenizer-budget and
    * diversity statistic in one: a source whose 90% cut is a handful
    * of types is templated/repetitive (cheap to tokenize, poor
    * diversity); a long-tailed source needs vocabulary. Complements
    * x112 (a parametric slope; this is the empirical curve's one
    * operating point).
    *
    * All-integer decision arithmetic: the cut tests
    * `cum·100 ≥ pct·total` on exact counts (no division), and the
    * emitted head_share is ONE double division rounded at 6. Ranks
    * are total-ordered (count desc, term asc).
    *
    * Shape: one scan → (source, term) hash agg → rank + running-sum
    * windows over the vocabulary-sized aggregate (partitioned by
    * source, never a global window) → conditional-min rollup to
    * |sources| rows. */
  def vocabCoverage(docs: DataFrame, pct: Long = VocabCoverPct): DataFrame = {
    require(pct > 0 && pct <= 100, s"vocabCoverage: pct=$pct")
    val tc = docs
      .select(col("source"), explode(wsTokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
    val rw = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("t"))
    tc.withColumn("r", row_number().over(rw))
      .withColumn("cum", sum(col("c")).over(
        rw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("c")).over(Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        first(col("total")).as("n_tokens"),
        min(when(col("cum") * 100 >= lit(pct) * col("total"), col("r")))
          .as("head_types"),
        min(when(col("cum") * 100 >= lit(pct) * col("total"), col("cum")))
          .as("head_tokens"))
      .select(col("source"), col("n_types"), col("n_tokens"),
        col("head_types"), col("head_tokens"),
        round(col("head_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("head_share"))
  }

  def vocabCoverageQuery(spark: SparkSession, dir: String): DataFrame =
    vocabCoverage(Tables.load(spark, dir, "documents"))
      .orderBy(col("source"))

  // ---------------------------------- tokenizer fertility (x121)

  /** x121: TOKENIZER FERTILITY — per language: whitespace words,
    * BPE-ish tokens (the [[tokenPattern]] lexer), characters, and the
    * fertility ratio tokens/word — the standard tokenizer-evaluation
    * statistic (how many subword tokens a word costs in each
    * language). A language whose fertility is far above the corpus
    * mean is under-served by the tokenizer and over-pays context
    * budget; the number that drives vocabulary rebalancing. Exact
    * integer sums + two double divisions rounded at 6.
    *
    * Shape: one scan, two regexp/split counters per row, |lang|-key
    * hash agg with map-side partials. */
  def fertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        size(wsTokens(col("text"))).cast("long").as("n_words"),
        regexp_count(col("text"), lit(tokenPattern)).cast("long").as("n_bpe"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe")).as("n_bpe"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
        col("n_chars"),
        round(col("n_bpe").cast("double") / col("n_words").cast("double"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_bpe").cast("double"), 6)
          .as("chars_per_token"))

  def fertilityQuery(spark: SparkSession, dir: String): DataFrame =
    fertility(Tables.load(spark, dir, "documents"))
      .orderBy(col("lang"))

  // --------------------------------- Gopher-style quality rules (x147)

  /** x147 rule constants, shared with the DuckDB twin. The stop list is
    * Gopher's "must contain 2 of 8 common English words" rule (Rae et
    * al. 2021, table A1) with `a` standing in for `have` — the two-hit
    * requirement is the point, not the exact lexicon. */
  private[graft] val GopherMinTokens: Long = 40L
  private[graft] val GopherMaxTokens: Long = 100000L
  private[graft] val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "a", "that", "with")

  /** x147: GOPHER-STYLE QUALITY RULE GATE — the published rule battery
    * (Rae et al. 2021) that large web pipelines run as the FIRST
    * content filter, each rule kept all-integer so no float boundary
    * can flake the verdict:
    *   - token count in [[[GopherMinTokens]], [[GopherMaxTokens]]];
    *   - mean word length in [3, 10] as `3·n ≤ chars ≤ 10·n`
    *     (chars = non-space length — exactly the token mass);
    *   - ≥ 80% of words contain a letter as `5·alpha ≥ 4·n`;
    *   - ≥ 2 distinct [[GopherStops]] hits.
    * Emits every metric next to the verdict (the audit shape — a
    * curator re-cuts thresholds without rescanning). The x09 quality
    * profile measures; this DECIDES, with the decision re-derivable
    * from the emitted integers.
    *
    * Shape: one scan, pure narrow projection — no shuffle at all; at
    * 100 TB this is the map-side gate fused into whatever scan follows
    * it (Catalyst collapses the projection into the consumer). */
  def gopherRules(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: gopherBaseCols: _*)
      .withColumn("admitted", gopherAdmittedExpr)

  /** x147's metric columns and verdict expression, shared verbatim
    * with the x163 fused panel (identity by construction). */
  private[graft] def gopherBaseCols: Seq[Column] = {
    // One native pass for the per-token stats (the x142/x166
    // discipline): the composed form paid an interpreted lambda + regex
    // per token for n_alpha and an array_distinct + array_intersect
    // allocation for n_stop; n_chars drops the regexp_replace that
    // built a whole new string just to measure it (the x09 n_nonspace
    // idiom — length minus single-space match count, same integer).
    val toks = wsTokens(col("text"))
    val ts = graft.functions.expressions.NativeExpressions
      .gopherTokenStats(toks, GopherStops)
    Seq(size(toks).cast("long").as("n_tokens"),
      (length(col("text")) - regexp_count(col("text"), lit(" ")))
        .cast("long").as("n_chars"),
      ts.getField("n_alpha").as("n_alpha"),
      ts.getField("n_stop").as("n_stop"))
  }

  private[graft] def gopherAdmittedExpr: Column =
    when(col("n_tokens") >= GopherMinTokens &&
      col("n_tokens") <= GopherMaxTokens &&
      lit(3L) * col("n_tokens") <= col("n_chars") &&
      col("n_chars") <= lit(10L) * col("n_tokens") &&
      lit(5L) * col("n_alpha") >= lit(4L) * col("n_tokens") &&
      col("n_stop") >= 2L, 1L).otherwise(0L)

  def gopherQuery(spark: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  // ------------------------------------- readability score (x148)

  /** x148: FLESCH-STYLE READABILITY — sentences as `[.!?]+` runs
    * (floored at 1: an unpunctuated doc is one long sentence),
    * syllables as `[aeiouy]+` vowel-group runs (the standard cheap
    * estimator), score = 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words). The curriculum/quality signal reading
    * difficulty adds next to x147's structural gates — used to bucket
    * corpora by difficulty or to flag machine-generated run-ons.
    *
    * Determinism: each ratio is ONE correctly-rounded double division
    * pinned at 6 BEFORE entering the linear form, and the final score
    * rounds at 6 — the x134 discipline, so DuckDB and Spark agree
    * bit-for-bit. Empty docs read null, not a fake score.
    *
    * Shape: one scan, narrow projection, shuffle-free (like x147). */
  def readability(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: readabilityBaseCols: _*)
      .withColumn("flesch", fleschExpr)

  /** x148's count columns and score expression, shared verbatim with
    * the x163 fused panel (identity by construction). */
  private[graft] def readabilityBaseCols: Seq[Column] = {
    // regexp_count, not size(regexp_extract_all(...)): same integers,
    // but the extract form materializes every match string (one per
    // vowel group!) just to count them — the x09/x112 discipline,
    // applied late here
    val words = size(wsTokens(col("text"))).cast("long")
    val sents = greatest(
      regexp_count(col("text"), lit("[.!?]+")).cast("long"),
      lit(1L))
    val syls = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    Seq(words.as("n_words"), sents.as("n_sentences"), syls.as("n_syllables"))
  }

  private[graft] def fleschExpr: Column =
    when(col("n_words") > 0L,
      round(lit(206.835)
        - lit(1.015) * round(col("n_words").cast("double")
            / col("n_sentences").cast("double"), 6)
        - lit(84.6) * round(col("n_syllables").cast("double")
            / col("n_words").cast("double"), 6), 6))

  def readabilityQuery(spark: SparkSession, dir: String): DataFrame =
    readability(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  // ------------------------- one-scan quality panel (x163)

  /** x163: ONE-SCAN QUALITY-SIGNAL PANEL — the stateless release-audit
    * gates (x147 Gopher rules, x148 readability, x154 within-doc line
    * repetition, x97 PII audit, x164 encoding damage) FUSED into a
    * single narrow projection
    * emitting every gate's columns side by side. Each is individually
    * a shuffle-free map over (doc_id, text); run as five separate
    * queries the run-all-audits release job reads the corpus five
    * times — fused, it reads it ONCE, and each signal column is the
    * same EXPRESSION OBJECT its standalone face builds
    * ([[gopherBaseCols]]/[[readabilityBaseCols]]/
    * [[graft.operators.Dedup.lineRepSig]]/
    * [[graft.operators.DocPrep.piiBaseCols]]/
    * [[graft.operators.DocPrep.encodingBaseCols]] — identity by
    * construction, spec-asserted column-for-column against all five;
    * x164's `n_chars` is omitted as it equals x97's `raw_len`).
    *
    * Shape at scale: one FileScan, zero Exchanges (PlanSpec-gated);
    * still a pure projection, so it runs unchanged on a stream — the
    * live everything-at-once quality meter
    * ([[graft.streaming.StreamingOps.qualityPanelStream]]). */
  def qualityPanel(docs: DataFrame,
                   lineTokens: Int = Dedup.LineTokens): DataFrame =
    panelProjection(docs, lineTokens, Nil)

  /** The one fused projection, with optional carried-through columns
    * (x168 threads `source` for its rollup). */
  private def panelProjection(docs: DataFrame, lineTokens: Int,
                              extra: Seq[Column]): DataFrame =
    docs.select(extra ++ Seq(col("doc_id")) ++ gopherBaseCols ++
        readabilityBaseCols ++
        Seq(Dedup.lineRepSig(lineTokens).as("_lr")) ++ DocPrep.piiBaseCols ++
        DocPrep.encodingBaseCols: _*)
      .withColumn("admitted", gopherAdmittedExpr)
      .withColumn("flesch", fleschExpr)
      .withColumn("pii_total", DocPrep.piiTotalExpr)
      .withColumn("clean", DocPrep.encodingCleanExpr)
      .select(extra ++ Seq(col("doc_id"),
        col("n_tokens"), col("n_chars"), col("n_alpha"), col("n_stop"),
        col("admitted"),
        col("n_words"), col("n_sentences"), col("n_syllables"), col("flesch")) ++
        Dedup.lineRepFinalCols("_lr") ++
        Seq(col("n_email"), col("n_phone"), col("n_ip"), col("pii_total"),
          col("raw_len"), col("redacted_len"),
          col("n_repl"), col("n_ctrl"), col("n_ascii"), col("n_longspace"),
          col("clean")): _*)

  def qualityPanelQuery(spark: SparkSession, dir: String): DataFrame =
    qualityPanel(Parallel.fanOut(Tables.load(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** x168: PER-SOURCE QUALITY SCORECARD — the x163 panel rolled up to
    * the per-feed dashboard every curation review reads first: per
    * source, how many documents pass the Gopher gate, how many are
    * structurally clean, how many carry PII or within-doc dup lines,
    * the token mass, and the mean readability. Exact BIGINT counts;
    * the one mean is a decimal sum of the panel's already-round-6
    * flesch doubles divided once (order-independent — the x80 moment
    * discipline), null for sources with no scorable doc.
    *
    * Shape: the SAME one-scan panel projection (x168 pays no second
    * scan over x163's — `source` just rides along) followed by one
    * |sources|-key hash aggregate with map-side partials. */
  def sourceScorecard(docs: DataFrame,
                      lineTokens: Int = Dedup.LineTokens): DataFrame = {
    val p = panelProjection(docs, lineTokens, Seq(col("source")))
    p.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("admitted")).as("n_admitted"),
        sum(col("clean")).as("n_clean"),
        sum(when(col("pii_total") > 0L, 1L).otherwise(0L)).as("n_pii_docs"),
        sum(when(col("n_dup_lines") > 0L, 1L).otherwise(0L)).as("n_dup_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
        count(col("flesch")).as("n_scored"),
        sum(col("flesch").cast("decimal(18,6)")).as("_fs"))
      .select(col("source"), col("n_docs"), col("n_admitted"),
        col("n_clean"), col("n_pii_docs"), col("n_dup_docs"),
        col("n_tokens"),
        when(col("n_scored") > 0L,
          round(col("_fs").cast("double") / col("n_scored").cast("double"), 6))
          .as("avg_flesch"))
  }

  def sourceScorecardQuery(spark: SparkSession, dir: String): DataFrame =
    sourceScorecard(Parallel.fanOut(Tables.load(spark, dir, "documents")))
      .orderBy(col("source"))

  // ------------------- seed-labeled quality classifier (x155)

  /** x155's feature-bucket count and hash salt, shared with both SQL
    * twins. 256 is the demo setting; fastText-style deployments hash
    * into 10^5..10^6 buckets — the plan shape is B-independent. */
  private[graft] val NbBuckets: Int = 256
  private[graft] val NbSalt: String = "nbq"

  /** Hashed unigram + bigram feature buckets of a labeled document set:
    * (doc_id, y, bk) — one row per feature OCCURRENCE (counts matter to
    * the multinomial model). The bigrams ride the same native shingle
    * kernel as x03/x67; the bucket hash is the cross-engine md5 image
    * ([[Sampling.hashBucket]] — bucket identity changes the counts, so
    * it can never be engine-local xxhash). */
  private def nbFeatures(labeled: DataFrame, buckets: Int): DataFrame =
    // one fused pass: tokens -> md5 bucket ids for unigrams+bigrams
    // (value-identical to the former explode(concat(w, shingles)) +
    // per-feature hashBucket % buckets — spec-gated in ExtrasSpec)
    labeled.select(col("doc_id"), col("y"),
      explode(graft.functions.expressions.NativeExpressions
        .md5BucketTokens(wsTokens(col("text")), NbSalt, buckets,
          bigrams = true)).as("bk"))

  /** x155: SEED-LABELED QUALITY CLASSIFIER — the CCNet/fastText move
    * (Wenzek et al. 2020; Joulin et al. 2017): train a multinomial
    * Naive Bayes model on hashed unigram+bigram features with a seed
    * labeling (curated sources positive, the crawl negative) and score
    * every document's log-odds of being curated-like. This is the
    * SUPERVISED counterpart to x153's unsupervised importance weight:
    * x153 asks "how target-like is this token distribution", x155 asks
    * "which side of a labeled boundary does this document fall on",
    * adds the class prior, and emits a DECISION (`pred`) a funnel rule
    * (x79) can consume directly. Real deployments train on seeds and
    * score fresh crawls — that split is [[saveNbModel]] /
    * [[nbScoreAgainst]]; this face trains and scores one corpus.
    *
    * Determinism: per-bucket weight w_b = round6(ln p̂(b|pos)) −
    * round6(ln p̂(b|neg)) (add-one smoothed) as an exact DECIMAL(18,6)
    * difference, prior w0 = round6(ln((n_pos+1)/(n_neg+1))); each doc's
    * log-odds = w0 + Σ_b n_db·w_b is an exact decimal dot product, cast
    * to double ONCE at the output column, and `pred` compares the exact
    * decimal against zero — the x67/x153 discipline end to end.
    *
    * Scale shape: the per-(doc, y, bk) aggregate is referenced twice
    * (class-conditional marginals and scoring) — both subtrees root in
    * the same exchange, which runtime exchange reuse collapses (the
    * x153 discipline); the label AND the zero-feature docs ride the
    * feature stream (explode_outer keeps a null-bucket row), so the
    * report is the scoring aggregate itself — no doc-grain join
    * anywhere. The weight and prior tables are B-row / 1-row
    * broadcasts; the corpus never shuffles wider than
    * (doc_id, y, bucket, count). Zero-feature docs score the PRIOR
    * alone (n_feats 0) — the principled posterior, not a null. */
  def nbQualityClassifier(docs: DataFrame, positive: Column,
                          buckets: Int = NbBuckets): DataFrame = {
    require(buckets > 0, s"nbQualityClassifier: buckets=$buckets")
    val b = lit(buckets.toLong)
    val labeled = docs.select(col("doc_id"),
      when(positive, 1L).otherwise(0L).as("y"), col("text"))
    // explode_OUTER so a zero-feature document keeps one (bk = null)
    // row: the scoring tail can then stay a pure aggregate over the
    // feature stream instead of left-joining the scores back to a
    // third corpus scan at document grain (guide §2.4 — the old plan
    // shuffled (doc_id, y) once more and paid a doc-grain SMJ purely
    // to re-attach prior-only docs).
    // one fused pass per document: tokens -> md5 bucket ids for
    // unigrams+bigrams (value-identical to the former explode(concat(w,
    // shingles)) + per-feature hashBucket % buckets, which materialized
    // a hex string and a bigram string per feature — spec-gated)
    val dbc = labeled
      .select(col("doc_id"), col("y"),
        explode_outer(graft.functions.expressions.NativeExpressions
          .md5BucketTokens(wsTokens(col("text")), NbSalt, buckets,
            bigrams = true)).as("bk"))
      .groupBy(col("doc_id"), col("y"), col("bk"))
      .agg(count(lit(1)).as("n"))
    val classBucket = dbc.filter(col("bk").isNotNull).groupBy(col("bk"))
      .agg(sum(when(col("y") === 1L, col("n")).otherwise(0L)).as("pc"),
        sum(when(col("y") === 0L, col("n")).otherwise(0L)).as("nc"))
    val totals = classBucket.agg(
      coalesce(sum(col("pc")), lit(0L)).as("pt"),
      coalesce(sum(col("nc")), lit(0L)).as("nt"))
    val weights = classBucket.crossJoin(broadcast(totals))
      .select(col("bk"),
        (round(log((col("pc") + lit(1L)).cast("double") /
            (col("pt") + b).cast("double")), 6).cast("decimal(18,6)")
          - round(log((col("nc") + lit(1L)).cast("double") /
            (col("nt") + b).cast("double")), 6).cast("decimal(18,6)"))
          .as("wb"))
    val prior = labeled.agg(
      round(log((coalesce(sum(col("y")), lit(0L)) + lit(1L)).cast("double") /
        (count(lit(1)) - coalesce(sum(col("y")), lit(0L)) + lit(1L))
          .cast("double")), 6).cast("decimal(18,6)").as("w0"))
    // the label and the null-bk (zero-feature) rows ride the feature
    // stream, so the report is one aggregate + two broadcasts — no
    // doc-grain join, no third corpus scan; a zero-feature doc's single
    // null-bk row contributes 0 to both sums (the principled
    // prior-only posterior, exactly as before)
    val zeroS = lit(0).cast("decimal(18,6)")
    dbc.join(broadcast(weights), Seq("bk"), "left")
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(when(col("bk").isNotNull, col("n")).otherwise(0L)).as("n_feats"),
        coalesce(sum(when(col("bk").isNotNull, col("n") * col("wb"))), zeroS)
          .as("s"))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("y"), col("n_feats"),
        (col("w0") + col("s")).cast("double").as("log_odds"),
        when(col("w0") + col("s") > 0, 1L).otherwise(0L).as("pred"))
  }

  /** The x155 queries() face: the x16/x151 seed convention — src0/src1
    * stand in as the curated positives, everything else is the crawl. */
  def nbQualityQuery(spark: SparkSession, dir: String): DataFrame =
    nbQualityClassifier(Tables.load(spark, dir, "documents"),
      col("source").isin("src0", "src1"))
      .orderBy(col("doc_id"))

  /** Persist the x155 NB model: the B-row (bk, wb) weight table plus
    * the 1-row prior — the frozen artifact the live gate
    * ([[graft.streaming.StreamingOps.nbGateStream]]) scores arriving
    * documents against (the saveDsirModel discipline; KBs at any
    * realistic B). Published atomically. The training arithmetic is
    * [[nbQualityClassifier]]'s verbatim — one body, two faces. */
  def saveNbModel(docs: DataFrame, positive: Column, path: String,
                  buckets: Int = NbBuckets): Unit =
    graft.core.DeltaIndex.publish(docs.sparkSession, path) { dir =>
      val b = lit(buckets.toLong)
      val labeled = docs.select(col("doc_id"),
        when(positive, 1L).otherwise(0L).as("y"), col("text"))
      val classBucket = nbFeatures(labeled, buckets)
        .groupBy(col("bk"))
        .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("pc"),
          sum(when(col("y") === 0L, 1L).otherwise(0L)).as("nc"))
      val totals = classBucket.agg(
        coalesce(sum(col("pc")), lit(0L)).as("pt"),
        coalesce(sum(col("nc")), lit(0L)).as("nt"))
      classBucket.crossJoin(broadcast(totals))
        .select(col("bk"),
          (round(log((col("pc") + lit(1L)).cast("double") /
              (col("pt") + b).cast("double")), 6).cast("decimal(18,6)")
            - round(log((col("nc") + lit(1L)).cast("double") /
              (col("nt") + b).cast("double")), 6).cast("decimal(18,6)"))
            .as("wb"))
        .write.mode("overwrite").parquet(s"$dir/weights")
      labeled.agg(
          round(log((coalesce(sum(col("y")), lit(0L)) + lit(1L)).cast("double") /
            (count(lit(1)) - coalesce(sum(col("y")), lit(0L)) + lit(1L))
              .cast("double")), 6).cast("decimal(18,6)").as("w0"))
        .write.mode("overwrite").parquet(s"$dir/prior")
    }

  /** Score documents against a frozen NB model (the body the
    * batch-vs-model spec face and the live gate share): per doc, the
    * count of MODELED feature occurrences and w0 + their weight sum —
    * identical arithmetic to [[nbQualityClassifier]]'s scoring tail
    * when every feature is modeled (same-corpus replay;
    * spec-asserted). explode_outer keeps featureless docs in the
    * report (they score the prior, exactly like the batch face); a
    * feature in an unmodeled bucket contributes to neither count nor
    * sum (the dsirScoreAgainst discipline). The live face necessarily
    * omits the batch face's `y` column — an arriving document carries
    * no label. */
  def nbScoreAgainst(docs: DataFrame, weights: DataFrame, prior: DataFrame,
                     buckets: Int = NbBuckets): DataFrame = {
    val w = wsTokens(col("text"))
    val zeroS = lit(0).cast("decimal(18,6)")
    docs
      .select(col("doc_id"),
        explode_outer(concat(w, graft.functions.expressions.NativeExpressions
          .wordShinglesAll(w, 2))).as("t"))
      .select(col("doc_id"),
        (Sampling.hashBucket(col("t"), NbSalt) % buckets).as("bk"))
      .join(broadcast(weights), Seq("bk"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("wb")).as("n_feats"),
        coalesce(sum(col("wb")), zeroS).as("s"))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("n_feats"),
        (col("w0") + col("s")).cast("double").as("log_odds"),
        when(col("w0") + col("s") > 0, 1L).otherwise(0L).as("pred"))
  }

}
