package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Q50–Q53 + Q61 — corpus-curation operators a training-data pipeline
  * runs after dedup/decontamination: PII redaction, URL/domain policy,
  * deterministic mixture interleaving, token-distribution stats, and
  * the Gopher composite quality rules.
  *
  * Cross-engine determinism follows the NorthStar rules: md5/regex
  * surfaces identical in both engines, integer arithmetic everywhere a
  * sort key is derived, the one floating aggregate (q53's entropy)
  * folds in an explicit word-asc order so both engines add identical
  * IEEE terms in identical sequence, and exact-integer ratios (q53's
  * ttr, q61's five rule ratios) are surfaced UNROUNDED per the
  * GraftQuery contract.
  *
  * The synthetic corpus contains no PII- or URL-shaped tokens (verified
  * at sf0.01: zero digits in any text), so q50/q51 oracle rows pin the
  * all-clean behavior; the operators' positive behavior is pinned by
  * Round9bSpec fixtures with real emails/phones/IPs/URLs.
  */
object Curation {
  /** Email/phone/IPv4 patterns, valid and identical under Java regex
    * (Spark) and RE2 (DuckDB): no backrefs, no lookaround. */
  private[graft] val EmailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val Ipv4Pat = """\b(\d{1,3}\.){3}\d{1,3}\b"""
  private[graft] val PhonePat = """\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"""
  /** URL + domain-capture patterns (no quote chars — they embed in SQL
    * single-quoted literals verbatim — and NO backslashes in DomainPat:
    * it rides inside Spark `expr` strings, where '\s' in a single-quoted
    * literal collapses to 's' while DuckDB keeps it verbatim — a silent
    * cross-engine divergence the Round9Spec fixture caught. Whitespace
    * exclusion is redundant there anyway: inputs are `\S+` matches). */
  private[queries] val UrlPat = """https?://\S+"""
  private[queries] val DomainPat = "https?://([^/:]+)"
  /** Domain blocklist a curation pass drops documents for. */
  private[queries] val Blocklist = Seq(
    "badsite.example", "spam.example", "tracker.example")

  val all: Seq[GraftQuery] = Seq(
    Q50PiiRedact, Q51UrlDomains, Q52MixInterleave, Q53TokenEntropy,
    Q61GopherRules, Q61bGopherRepetition)
}

/** Q50 — PII redaction: count and mask emails, phone numbers and IPv4
  * addresses. Counts are taken on the ORIGINAL text (each pattern
  * independently); redaction applies email→ip→phone so the broader
  * ip pattern can never corrupt an already-redacted narrower match.
  * Entirely per-row regex work — codegen'd, shuffle-free except the
  * final doc_id sort; at 100 TB this is the map-only pass it must be. */
object Q50PiiRedact extends GraftQuery {
  import Curation._
  val name = "q50_pii_redact"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailPat), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhonePat), lit(0)))
        .cast("long").as("n_phones"),
      size(regexp_extract_all(col("text"), lit(Ipv4Pat), lit(0)))
        .cast("long").as("n_ips"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailPat, "<EMAIL>"),
          Ipv4Pat, "<IP>"),
        PhonePat, "<PHONE>").as("redacted"))
      .withColumn("pii_total",
        col("n_emails") + col("n_phones") + col("n_ips"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        col("n_ips"), col("pii_total"), col("redacted"))
      .orderBy(col("doc_id"))
  val oracle = Some(s"""
    SELECT doc_id,
      CAST(length(regexp_extract_all(text, '$EmailPat')) AS BIGINT) AS n_emails,
      CAST(length(regexp_extract_all(text, '$PhonePat')) AS BIGINT) AS n_phones,
      CAST(length(regexp_extract_all(text, '$Ipv4Pat')) AS BIGINT) AS n_ips,
      CAST(length(regexp_extract_all(text, '$EmailPat'))
         + length(regexp_extract_all(text, '$PhonePat'))
         + length(regexp_extract_all(text, '$Ipv4Pat')) AS BIGINT) AS pii_total,
      regexp_replace(
        regexp_replace(
          regexp_replace(text, '$EmailPat', '<EMAIL>', 'g'),
          '$Ipv4Pat', '<IP>', 'g'),
        '$PhonePat', '<PHONE>', 'g') AS redacted
    FROM documents ORDER BY doc_id
  """.trim)
}

/** Q51 — URL/domain policy: per document, how many URLs it carries,
  * how many distinct domains, and how many hit the blocklist; `keep`
  * is the curation verdict. Per-row HOFs over the extracted URL list —
  * no shuffle before the final sort, and the blocklist is a literal
  * array (at scale: a broadcast set), never a join. */
object Q51UrlDomains extends GraftQuery {
  import Curation._
  val name = "q51_url_domains"
  private def blockArr = Blocklist.map(d => s"'$d'").mkString("array(", ", ", ")")
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("urls", regexp_extract_all(col("text"), lit(UrlPat), lit(0)))
      // drop the '' regexp_extract returns for a domain-less URL
      // ("http:///x", "http://:8080/x") — it would otherwise count as
      // a phantom distinct domain in both engines, consistently wrong
      .withColumn("domains",
        expr(s"filter(transform(urls, u_ -> lower(regexp_extract(u_, '$DomainPat', 1))), d_ -> d_ != '')"))
      .select(
        col("doc_id"),
        size(col("urls")).cast("long").as("n_urls"),
        size(array_distinct(col("domains"))).cast("long").as("n_domains"),
        expr(s"cast(size(filter(domains, d_ -> array_contains($blockArr, d_))) as bigint)")
          .as("n_blocked"))
      .withColumn("keep", col("n_blocked") === 0L)
      .orderBy(col("doc_id"))
  val oracle = Some {
    val blockList = Blocklist.map(d => s"'$d'").mkString("[", ", ", "]")
    s"""
    WITH u AS (
      SELECT doc_id,
        list_filter(list_transform(regexp_extract_all(text, '$UrlPat'),
          u_ -> lower(regexp_extract(u_, '$DomainPat', 1))), d_ -> d_ <> '') AS domains,
        CAST(length(regexp_extract_all(text, '$UrlPat')) AS BIGINT) AS n_urls
      FROM documents)
    SELECT doc_id, n_urls,
      CAST(length(list_distinct(domains)) AS BIGINT) AS n_domains,
      CAST(length(list_filter(domains, d_ -> list_contains($blockList, d_))) AS BIGINT) AS n_blocked,
      length(list_filter(domains, d_ -> list_contains($blockList, d_))) = 0 AS keep
    FROM u ORDER BY doc_id
    """.trim
  }
}

/** Q52 — deterministic mixture interleave (stride scheduling): give
  * each source an integer weight and emit the training order in which
  * any prefix contains sources proportionally to their weights. Per
  * source, doc n gets key n·stride where stride = LCM(weights)/weight —
  * pure integer arithmetic, so both engines order identically with no
  * float ties. The output's total ORDER BY *is* the training order;
  * deliberately NO global row_number materialization — that would be a
  * single-partition window, while the ORDER BY is Spark's
  * range-partitioned sort and scales to 100 TB. Weights here derive
  * from the source id (1 + src# mod 3); a real run would join a tiny
  * broadcast weight table. */
object Q52MixInterleave extends GraftQuery {
  val name = "q52_mix_interleave"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        (expr("cast(substr(source, 4) as int)") % 3 + 1).as("weight"))
      .withColumn("rn", row_number().over(w).cast("long"))
      // stride: LCM(1,2,3)=6 → 6,3,2. element_at avoids the engines'
      // differing integer-division dialects (duckdb / returns DOUBLE)
      .withColumn("sort_key",
        col("rn") * element_at(array(lit(6L), lit(3L), lit(2L)), col("weight")))
      .orderBy(col("sort_key"), col("source"), col("doc_id"))
  }
  val oracle = Some("""
    WITH w AS (
      SELECT doc_id, source,
        CAST((CAST(substr(source, 4) AS INT) % 3) + 1 AS INT) AS weight
      FROM documents),
    r AS (
      SELECT doc_id, source, weight,
        CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn
      FROM w)
    SELECT doc_id, source, weight, rn,
      rn * ([6, 3, 2][weight]) AS sort_key
    FROM r ORDER BY sort_key, source, doc_id
  """.trim)
}

/** Q53 — token-distribution stats: per-document token count, type
  * count, type-token ratio and Shannon entropy of the token frequency
  * distribution (a gibberish/templated-text quality signal: natural
  * prose sits high, degenerate repetition collapses toward 0).
  * The one floating sum (Σ c·ln c) folds over counts in explicit
  * word-asc order, so Spark and DuckDB add identical IEEE terms in
  * identical sequence (the q18e left-fold rule); entropy is then two
  * IEEE ops on exact operands. Shape: tokenize→per-(doc,word) count→
  * per-doc fold — two partial-agg shuffles keyed by doc_id, no window. */
object Q53TokenEntropy extends GraftQuery {
  val name = "q53_token_entropy"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val byWord = InvertedIndex.words(Tables.documents(spark, dir), "doc_id")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
    byWord
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_types"),
        // word-asc ordered counts → order-deterministic float fold
        sort_array(collect_list(struct(col("word"), col("c")))).as("cs"))
      .withColumn("slc", expr(
        "aggregate(transform(cs, x_ -> cast(x_.c as double)), " +
          "cast(0 as double), (a_, x_) -> a_ + x_ * ln(x_))"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_types"),
        // UNROUNDED: a ratio of two exact integers is one
        // bit-deterministic IEEE division; ROUND(…, 4) on it is the
        // q55 halfway-point hazard (e.g. 87/4000 = 0.02175 rounds
        // 0.0218 in Spark, 0.0217 in DuckDB). entropy stays rounded —
        // it is a genuinely-float ln fold.
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        round(log(col("n_tokens").cast("double")) - col("slc") / col("n_tokens"), 4)
          .as("entropy"))
      .orderBy(col("doc_id"))
  }
  val oracle = Some(raw"""
    WITH words AS (
      SELECT doc_id,
        lower(regexp_replace(unnest(string_split_regex(text, '\s+')), '[^a-zA-Z]', '', 'g')) AS word
      FROM documents),
    byword AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
      FROM words WHERE word <> '' GROUP BY doc_id, word),
    agg AS (
      SELECT doc_id,
        CAST(sum(c) AS BIGINT) AS n_tokens,
        CAST(count(*) AS BIGINT) AS n_types,
        list(CAST(c AS DOUBLE) ORDER BY word ASC) AS cs
      FROM byword GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_types,
      CAST(n_types AS DOUBLE) / n_tokens AS ttr,
      round(ln(CAST(n_tokens AS DOUBLE))
        - list_reduce(list_prepend(CAST(0 AS DOUBLE), cs),
            (a_, x_) -> a_ + x_ * ln(x_)) / n_tokens, 4) AS entropy
    FROM agg ORDER BY doc_id
  """.trim)
}

/** Q61 — the Gopher quality rules (Rae et al. 2021, Appendix A): the
  * canonical published composite rule-set most production corpora run
  * before model-based scoring. Each document gets the FIRST failing
  * rule in the paper's order as its status (precedence mirrors
  * q42's drop-reason discipline: one cheapest-condemning reason).
  *
  * Rules: word count ∈ [50, 100k]; mean word length ∈ [3, 10];
  * hash-symbol-to-word ratio ≤ 0.1 AND '...'-run-to-word ratio ≤ 0.1
  * (the paper thresholds EACH symbol separately — a doc at 0.06+0.06
  * passes, a summed ratio would wrongly condemn it); <90% of lines
  * bullet-started; <30% of lines ellipsis-ended; ≥80% of words
  * containing an alphabetic char; ≥2 distinct stopwords present.
  *
  * One DELIBERATE deviation from App. A: the stopword list swaps the
  * paper's "with" for "a" — the synthetic corpus vocabulary contains
  * "the" and "a" but none of the paper's other six, so the paper's
  * exact list would tag every long fixture doc 'stopwords' and the
  * kept path would only ever run in crafted tests. A production run
  * swaps the literal list back.
  *
  * Entirely per-row HOF work over one projection binding tokens,
  * lines, and the LOWERED token array (bound once — 8 stopword probes
  * reference it; an inline transform would re-lowercase per probe) —
  * map-only at 100 TB, like q50. Ratio outputs are single IEEE
  * divisions of exact integers, surfaced UNROUNDED (the q55 rule),
  * zero-guarded so an empty doc hashes as 0.0 instead of
  * engine-specific null/NaN; the threshold comparisons therefore
  * agree across engines because both sides compare bit-identical
  * doubles. Stopword counting filters the 8-element literal list
  * against the token set (never the reverse: list_intersect's dedup
  * semantics differ subtly across engines).
  */
object Q61GopherRules extends GraftQuery {
  val name = "q61_gopher_rules"
  val MinWords = 50L
  val MaxWords = 100000L
  val Stopwords = Seq("the", "a", "be", "to", "of", "and", "that", "have")

  def run(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = Stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        expr(NorthStar.toksExpr).as("t"),
        expr(NorthStar.linesExpr).as("lns"))
      .withColumn("tl", expr("transform(t, x_ -> lower(x_))"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_words"),
        expr("aggregate(t, cast(0 as bigint), (a_, x_) -> a_ + length(x_))")
          .as("wchars"),
        expr("cast(size(filter(t, x_ -> x_ rlike '[A-Za-z]')) as bigint)")
          .as("n_alpha"),
        (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
          .cast("long").as("n_hash"),
        expr("cast((length(text) - length(replace(text, '...', ''))) div 3 as bigint)")
          .as("n_ellip"),
        size(col("lns")).cast("long").as("n_lines"),
        expr("cast(size(filter(lns, s_ -> startswith(s_, '-') or startswith(s_, '*'))) as bigint)")
          .as("n_bullet"),
        expr("cast(size(filter(lns, s_ -> endswith(s_, '...'))) as bigint)")
          .as("n_ell_lines"),
        expr(s"cast(size(filter($stopArr, s_ -> " +
          "array_contains(tl, s_))) as bigint)")
          .as("n_stopwords"))
      .withColumn("mean_word_len",
        when(col("n_words") === 0L, lit(0.0))
          .otherwise(col("wchars").cast("double") / col("n_words")))
      .withColumn("hash_ratio",
        when(col("n_words") === 0L, lit(0.0))
          .otherwise(col("n_hash").cast("double") / col("n_words")))
      .withColumn("ellipsis_ratio",
        when(col("n_words") === 0L, lit(0.0))
          .otherwise(col("n_ellip").cast("double") / col("n_words")))
      .withColumn("alpha_frac",
        when(col("n_words") === 0L, lit(0.0))
          .otherwise(col("n_alpha").cast("double") / col("n_words")))
      .withColumn("bullet_frac",
        when(col("n_lines") === 0L, lit(0.0))
          .otherwise(col("n_bullet").cast("double") / col("n_lines")))
      .withColumn("ellipsis_frac",
        when(col("n_lines") === 0L, lit(0.0))
          .otherwise(col("n_ell_lines").cast("double") / col("n_lines")))
      .withColumn("status",
        when(col("n_words") < MinWords || col("n_words") > MaxWords,
          lit("word_count"))
          .when(col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0,
            lit("word_length"))
          .when(col("hash_ratio") > 0.1 || col("ellipsis_ratio") > 0.1,
            lit("symbol_ratio"))
          .when(col("bullet_frac") > 0.9, lit("bullet_lines"))
          .when(col("ellipsis_frac") > 0.3, lit("ellipsis_lines"))
          .when(col("alpha_frac") < 0.8, lit("alpha_words"))
          .when(col("n_stopwords") < 2L, lit("stopwords"))
          .otherwise(lit("kept")))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("hash_ratio"), col("ellipsis_ratio"), col("alpha_frac"),
        col("bullet_frac"), col("ellipsis_frac"), col("n_stopwords"),
        col("status"))
      .orderBy(col("doc_id"))
  }

  val oracle = Some {
    val stopList = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    raw"""
    WITH b AS (
      SELECT doc_id, text, ${NorthStar.duckToks} AS t,
        ${NorthStar.duckLines} AS lns
      FROM documents),
    s AS (
      SELECT doc_id,
        CAST(len(t) AS BIGINT) AS n_words,
        CAST(COALESCE(list_sum(list_transform(t, x_ -> length(x_))), 0) AS BIGINT) AS wchars,
        CAST(len(list_filter(t, x_ -> regexp_matches(x_, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellip,
        CAST(len(lns) AS BIGINT) AS n_lines,
        CAST(len(list_filter(lns, s_ -> starts_with(s_, '-') OR starts_with(s_, '*'))) AS BIGINT) AS n_bullet,
        CAST(len(list_filter(lns, s_ -> ends_with(s_, '...'))) AS BIGINT) AS n_ell_lines,
        CAST(len(list_filter($stopList, s_ ->
          list_contains(list_transform(t, x_ -> lower(x_)), s_))) AS BIGINT) AS n_stopwords
      FROM b),
    f AS (
      SELECT doc_id, n_words, n_stopwords,
        CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(wchars AS DOUBLE) / n_words END AS mean_word_len,
        CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_hash AS DOUBLE) / n_words END AS hash_ratio,
        CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_ellip AS DOUBLE) / n_words END AS ellipsis_ratio,
        CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_alpha AS DOUBLE) / n_words END AS alpha_frac,
        CASE WHEN n_lines = 0 THEN 0.0 ELSE CAST(n_bullet AS DOUBLE) / n_lines END AS bullet_frac,
        CASE WHEN n_lines = 0 THEN 0.0 ELSE CAST(n_ell_lines AS DOUBLE) / n_lines END AS ellipsis_frac
      FROM s)
    SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_ratio,
      alpha_frac, bullet_frac, ellipsis_frac, n_stopwords,
      CASE WHEN n_words < $MinWords OR n_words > $MaxWords THEN 'word_count'
           WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'word_length'
           WHEN hash_ratio > 0.1 OR ellipsis_ratio > 0.1 THEN 'symbol_ratio'
           WHEN bullet_frac > 0.9 THEN 'bullet_lines'
           WHEN ellipsis_frac > 0.3 THEN 'ellipsis_lines'
           WHEN alpha_frac < 0.8 THEN 'alpha_words'
           WHEN n_stopwords < 2 THEN 'stopwords'
           ELSE 'kept' END AS status
    FROM f ORDER BY doc_id
  """.trim
  }
}

/** Q61b — the REPETITION half of the Gopher/MassiveText filter set
  * (Rae et al. 2021, "Scaling Language Models", Appendix A1.2),
  * completing q61's quality half: q47 carries two of the
  * thirteen published repetition signals (duplicate-line fraction,
  * top-bigram COUNT share); this operator computes the full set —
  *
  *  - duplicate line / paragraph fraction: share of line (paragraph)
  *    occurrences that repeat an earlier identical one;
  *  - duplicate line / paragraph CHARACTER fraction: share of line
  *    (paragraph) characters sitting in those repeat occurrences;
  *  - top n-gram character fraction, n ∈ {2,3,4}: share of word
  *    characters covered by occurrences of the single most frequent
  *    word n-gram (ties → lexicographically smallest, q47's rule;
  *    overlapping occurrences count fully, as published);
  *  - duplicate n-gram character fraction, n ∈ {5..10}: share of word
  *    characters at token positions covered by ANY occurrence of a
  *    word n-gram that appears more than once (a position coverage
  *    mask, so overlapping duplicates never double-count a token).
  *
  * `status` applies the paper's thresholds in table order (dup-line
  * 0.30, dup-paragraph 0.30, their char variants 0.20, top-{2,3,4}
  * 0.20/0.18/0.16, dup-{5..10} 0.15 down to 0.10) and names the first
  * failing rule, composing with q61's quality `status` the way the
  * published pipeline runs both banks.
  *
  * Shape: entirely per-row higher-order-function work over ONE
  * projection — map-only at 100 TB, no shuffle before the final
  * doc_id sort. Every shared array (`t_`, `lns_`, `prs_`, per-n gram
  * arrays, sorted twins, dup sets) is let()-bound so CollapseProject
  * cannot re-evaluate it per reference; the dup tier short-circuits
  * to 0 when the doc has no duplicated n-gram (the common case), so
  * the O(tokens·n) coverage fold runs only on repetitive docs. The
  * duplicate detector is the sorted-adjacent zip (q47's run trick):
  * multiset duplicates == equal neighbors after array_sort, no
  * per-doc groupBy. Char fractions are single IEEE divisions of
  * exact integers, surfaced UNROUNDED (the q55 rule), zero-guarded.
  *
  * The fixture corpus is single-line (q47's note), so the line and
  * paragraph tiers read 0 there and their liveness is pinned on a
  * crafted multi-line corpus in GopherRepetitionSpec; the n-gram
  * tiers are live on the fixture and hash-gated. The oracle replays
  * the whole contract RELATIONALLY (unnest with positions → count →
  * join-back coverage mask → sum), an independent implementation.
  */
object Q61bGopherRepetition extends GraftQuery {
  import NorthStar.let
  val name = "q61b_gopher_repetition"

  /** (n, max char fraction) for the top-n-gram rules (A1.2 order). */
  private[queries] val TopRules = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  /** (n, max char fraction) for the duplicate-n-gram rules. */
  private[queries] val DupRules =
    Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)
  private[queries] val MaxDupLineFrac = 0.30
  private[queries] val MaxDupParaFrac = 0.30
  private[queries] val MaxDupLineCharFrac = 0.20
  private[queries] val MaxDupParaCharFrac = 0.20

  /** Blank-line-separated paragraphs, trimmed, empties dropped (the
    * same trim semantics as linesExpr — both engines strip spaces). */
  private val parasExpr =
    "filter(transform(split(text, '\n\n'), p_ -> trim(p_)), p_ -> p_ != '')"

  /** Word n-grams of the bound token array `t_`, joined with ' ' so
    * length(gram) − (n−1) is exactly the sum of its token lengths. */
  private def gramsExpr(n: Int) =
    s"transform(IF(size(t_) < $n, array(), " +
      s"sequence(1, size(t_) - ${n - 1})), gi_ -> " +
      s"array_join(slice(t_, gi_, $n), ' '))"

  /** Sum of character lengths over all elements of `arr`. */
  private def totChars(arr: String) =
    s"aggregate($arr, cast(0 as bigint), (ca_, cx_) -> ca_ + length(cx_))"

  /** q47's sorted-run fold generalized to the bound array `g_`:
    * (count, value) of the most frequent element, first max run in
    * sorted order == lexicographically smallest argmax. */
  private val topFold =
    "aggregate(array_sort(g_), " +
      "named_struct('prev', '', 'run', 0, 'best', 0, 'arg', ''), " +
      "(acc, x_) -> element_at(transform(" +
      "array(IF(x_ = acc.prev, acc.run + 1, 1)), r_ -> named_struct(" +
      "'prev', x_, 'run', r_, " +
      "'best', IF(r_ > acc.best, r_, acc.best), " +
      "'arg', IF(r_ > acc.best, x_, acc.arg))), 1))"

  /** The all-distinct fast path skips the O(T log T) interpreted
    * sort-fold: with every count 1, the argmax tie breaks to the
    * smallest gram (= array_min) with count 1 — the exact fold
    * result. array_distinct is one hashed O(T) pass, so the common
    * unrepetitive doc pays O(T), not a lambda-interpreted sort. */
  private def topFracExpr(n: Int) =
    s"IF(size(t_) >= $n, " +
      let("g_", gramsExpr(n),
        "IF(size(array_distinct(g_)) = size(g_), " +
          s"cast(length(array_min(g_)) - ${n - 1} as double) / wch_, " +
          let("tp_", topFold,
            s"cast(tp_.best as double) * (length(tp_.arg) - ${n - 1}) / wch_") +
          ")") +
      ", cast(0 as double))"

  /** Values with multiplicity ≥ 2 in the bound sorted array `sg_`:
    * equal-neighbor zip, distinct'd. */
  private val dupSetExpr =
    "array_distinct(filter(zip_with(" +
      "slice(sg_, 1, size(sg_) - 1), slice(sg_, 2, size(sg_) - 1), " +
      "(da_, db_) -> IF(da_ = db_, db_, NULL)), dx_ -> dx_ IS NOT NULL))"

  /** Char fraction of token positions covered by any occurrence of a
    * duplicated n-gram: for position j, some gram start i in
    * [j−n+1, j] (clamped to valid starts) is in the dup set. */
  /** Coverage fraction for n, assuming the caller has already
    * established a duplicated n-gram MAY exist (`t_` has ≥ n tokens
    * and the doc duplicates some 5-gram — a duplicated n-gram for
    * n > 5 contains duplicated 5-grams, so `hd5_` soundly gates the
    * whole tier). The inner distinct check still short-circuits the
    * sort and the O(tokens·n) coverage fold when THIS n has no
    * duplicate. */
  private def dupFracExpr(n: Int) = {
    val guard = s"size(t_) >= $n AND hd5_"
    s"IF($guard, " +
      let("g_", gramsExpr(n),
        "IF(size(array_distinct(g_)) = size(g_), cast(0 as double), " +
          let("sg_", "array_sort(g_)", let("d_", dupSetExpr,
            "cast(aggregate(sequence(1, size(t_)), cast(0 as bigint), " +
              "(ja_, j_) -> ja_ + IF(exists(sequence(" +
              s"greatest(1, j_ - ${n - 1}), least(j_, size(g_))), " +
              "i_ -> array_contains(d_, element_at(g_, i_))), " +
              "cast(length(element_at(t_, j_)) as bigint), " +
              "cast(0 as bigint))) as double) / wch_")) +
          ")") +
      ", cast(0 as double))"
  }

  /** Chars in repeat occurrences of `arr`'s elements (each value with
    * count c contributes (c−1)·len): equal-neighbor lengths after
    * sort. Requires size ≥ 1 (callers guard empty). */
  private def repChars(arr: String) =
    let("rs_", s"array_sort($arr)",
      "aggregate(zip_with(slice(rs_, 1, size(rs_) - 1), " +
        "slice(rs_, 2, size(rs_) - 1), " +
        "(ra_, rb_) -> IF(ra_ = rb_, cast(length(rb_) as bigint), " +
        "cast(0 as bigint))), cast(0 as bigint), (sa_, sx_) -> sa_ + sx_)")

  /** frac + char-frac pair for a line-like array bound as `arr`. */
  private def dupPairExprs(arr: String, chBind: String): (String, String) = {
    val frac = s"IF(size($arr) = 0, cast(0 as double), " +
      s"cast(size($arr) - size(array_distinct($arr)) as double) / size($arr))"
    val charFrac = s"IF(size($arr) = 0, cast(0 as double), " +
      let(chBind, totChars(arr),
        s"IF($chBind = 0, cast(0 as double), " +
          s"cast(${repChars(arr)} as double) / $chBind)") + ")"
    (frac, charFrac)
  }

  private[graft] def signals(docs: DataFrame): DataFrame = {
    val (lFrac, lCharFrac) = dupPairExprs("lns_", "lch_")
    val (pFrac, pCharFrac) = dupPairExprs("prs_", "pch_")
    val fields = Seq(
      "'n_lines'" -> "size(lns_)",
      "'dup_line_frac'" -> lFrac,
      "'dup_line_char_frac'" -> lCharFrac,
      "'n_paras'" -> "size(prs_)",
      "'dup_para_frac'" -> pFrac,
      "'dup_para_char_frac'" -> pCharFrac) ++
      TopRules.map { case (n, _) =>
        s"'top${n}_char_frac'" -> topFracExpr(n) } ++
      DupRules.map { case (n, _) =>
        s"'dup${n}_char_frac'" -> dupFracExpr(n) }
    val struct = fields.map { case (k, v) => s"$k, $v" }
      .mkString("named_struct(", ", ", ")")
    // hd5_ — "some 5-gram duplicates": bound ONCE per doc, it gates
    // every dup-{5..10} field (a duplicated longer gram contains
    // duplicated 5-grams), so the common unrepetitive doc pays one
    // gram build + one hashed distinct for the whole dup tier.
    val hasDup5 = s"IF(size(t_) >= 5, ${let("g5_", gramsExpr(5),
      "size(array_distinct(g5_)) < size(g5_)")}, false)"
    val body = let("t_", NorthStar.toksExpr,
      let("wch_", totChars("t_"),
        let("lns_", NorthStar.linesExpr, let("prs_", parasExpr,
          let("hd5_", hasDup5, struct)))))
    val statusCol = {
      val base = when(col("dup_line_frac") > MaxDupLineFrac, lit("dup_lines"))
        .when(col("dup_para_frac") > MaxDupParaFrac, lit("dup_paragraphs"))
        .when(col("dup_line_char_frac") > MaxDupLineCharFrac,
          lit("dup_line_chars"))
        .when(col("dup_para_char_frac") > MaxDupParaCharFrac,
          lit("dup_para_chars"))
      val withTop = TopRules.foldLeft(base) { case (acc, (n, thr)) =>
        acc.when(col(s"top${n}_char_frac") > thr, lit(s"top_${n}gram")) }
      DupRules.foldLeft(withTop) { case (acc, (n, thr)) =>
        acc.when(col(s"dup${n}_char_frac") > thr, lit(s"dup_${n}gram")) }
        .otherwise(lit("kept"))
    }
    docs.select(col("doc_id"), inline(array(expr(body))))
      .withColumn("status", statusCol)
  }

  def run(spark: SparkSession, dir: String): DataFrame =
    signals(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  val oracle = Some {
    val duckParas = "list_filter(list_transform(string_split(text, " +
      "chr(10) || chr(10)), p_ -> trim(p_)), p_ -> p_ <> '')"
    def gl(n: Int) =
      s"list_transform(range(1, len(t) - ${n - 2}), k_ -> " +
        s"array_to_string(t[k_:k_ + ${n - 1}], ' '))"
    val topCtes = TopRules.map { case (n, _) =>
      s"""g$n AS (SELECT doc_id, unnest(gl) AS gram FROM (
        SELECT doc_id, ${gl(n)} AS gl FROM base WHERE len(t) >= $n)),
      c$n AS (SELECT doc_id, gram, count(*) AS c FROM g$n GROUP BY 1, 2),
      m$n AS (SELECT doc_id, max(c) AS mc FROM c$n GROUP BY 1),
      a$n AS (SELECT c.doc_id, max(c.c) AS mc, min(c.gram) AS arg
              FROM c$n c JOIN m$n m ON c.doc_id = m.doc_id AND c.c = m.mc
              GROUP BY 1)""" }.mkString(",\n      ")
    val dupCtes = DupRules.map { case (n, _) =>
      s"""l$n AS (SELECT doc_id, gl, unnest(range(1, len(gl) + 1)) AS i FROM (
        SELECT doc_id, ${gl(n)} AS gl FROM base WHERE len(t) >= $n)),
      gi$n AS (SELECT doc_id, i, gl[i] AS gram FROM l$n),
      d$n AS (SELECT doc_id, gram FROM (
        SELECT doc_id, gram, count(*) AS c FROM gi$n GROUP BY 1, 2)
        WHERE c >= 2),
      o$n AS (SELECT g.doc_id, g.i FROM gi$n g
              JOIN d$n d ON g.doc_id = d.doc_id AND g.gram = d.gram),
      cv$n AS (SELECT DISTINCT w.doc_id, w.j, w.wl FROM tokw w JOIN o$n o
               ON w.doc_id = o.doc_id AND w.j BETWEEN o.i AND o.i + ${n - 1}),
      ch$n AS (SELECT doc_id, SUM(wl) AS ch FROM cv$n GROUP BY 1)""" }
      .mkString(",\n      ")
    def lineTier(src: String, a: String) =
      s"""${a}u AS (SELECT doc_id, unnest($src) AS v FROM base),
      ${a}c AS (SELECT doc_id, v, count(*) AS c FROM ${a}u GROUP BY 1, 2),
      ${a}t AS (SELECT doc_id, SUM(c) AS n_total, SUM(c - 1) AS n_rep,
                SUM(c * length(v)) AS tot_ch,
                SUM((c - 1) * length(v)) AS rep_ch
                FROM ${a}c GROUP BY 1)"""
    val topSel = TopRules.map { case (n, _) =>
      s"""CASE WHEN w.wch = 0 OR a$n.mc IS NULL THEN 0.0
        ELSE CAST(a$n.mc AS DOUBLE) * (length(a$n.arg) - ${n - 1}) / w.wch
        END AS top${n}_char_frac""" }.mkString(",\n        ")
    val dupSel = DupRules.map { case (n, _) =>
      s"""CASE WHEN w.wch = 0 THEN 0.0
        ELSE CAST(COALESCE(ch$n.ch, 0) AS DOUBLE) / w.wch
        END AS dup${n}_char_frac""" }.mkString(",\n        ")
    val topJoins = TopRules.map { case (n, _) =>
      s"LEFT JOIN a$n ON w.doc_id = a$n.doc_id" }.mkString("\n      ")
    val dupJoins = DupRules.map { case (n, _) =>
      s"LEFT JOIN ch$n ON w.doc_id = ch$n.doc_id" }.mkString("\n      ")
    val statusCase = (
      Seq(
        s"WHEN dup_line_frac > $MaxDupLineFrac THEN 'dup_lines'",
        s"WHEN dup_para_frac > $MaxDupParaFrac THEN 'dup_paragraphs'",
        s"WHEN dup_line_char_frac > $MaxDupLineCharFrac THEN 'dup_line_chars'",
        s"WHEN dup_para_char_frac > $MaxDupParaCharFrac THEN 'dup_para_chars'") ++
      TopRules.map { case (n, thr) =>
        s"WHEN top${n}_char_frac > $thr THEN 'top_${n}gram'" } ++
      DupRules.map { case (n, thr) =>
        s"WHEN dup${n}_char_frac > $thr THEN 'dup_${n}gram'" }
      ).mkString("\n        ")
    raw"""
    WITH base AS (SELECT doc_id, ${NorthStar.duckToks} AS t,
        ${NorthStar.duckLines} AS lns, $duckParas AS prs FROM documents),
      wc AS (SELECT doc_id,
        CAST(COALESCE(list_sum(list_transform(t, x_ -> length(x_))), 0)
          AS BIGINT) AS wch FROM base),
      tokp AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS j FROM base),
      tokw AS (SELECT doc_id, j, length(t[j]) AS wl FROM tokp),
      ${lineTier("lns", "ln")},
      ${lineTier("prs", "pr")},
      $topCtes,
      $dupCtes,
      fin AS (SELECT w.doc_id,
        CAST(COALESCE(lnt.n_total, 0) AS INT) AS n_lines,
        CASE WHEN COALESCE(lnt.n_total, 0) = 0 THEN 0.0
          ELSE CAST(lnt.n_rep AS DOUBLE) / lnt.n_total END AS dup_line_frac,
        CASE WHEN COALESCE(lnt.tot_ch, 0) = 0 THEN 0.0
          ELSE CAST(lnt.rep_ch AS DOUBLE) / lnt.tot_ch
          END AS dup_line_char_frac,
        CAST(COALESCE(prt.n_total, 0) AS INT) AS n_paras,
        CASE WHEN COALESCE(prt.n_total, 0) = 0 THEN 0.0
          ELSE CAST(prt.n_rep AS DOUBLE) / prt.n_total END AS dup_para_frac,
        CASE WHEN COALESCE(prt.tot_ch, 0) = 0 THEN 0.0
          ELSE CAST(prt.rep_ch AS DOUBLE) / prt.tot_ch
          END AS dup_para_char_frac,
        $topSel,
        $dupSel
      FROM wc w
      LEFT JOIN lnt ON w.doc_id = lnt.doc_id
      LEFT JOIN prt ON w.doc_id = prt.doc_id
      $topJoins
      $dupJoins)
    SELECT fin.*, CASE
        $statusCase
        ELSE 'kept' END AS status
    FROM fin ORDER BY doc_id
  """.trim
  }
}
