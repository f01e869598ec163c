package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Q72 — HTML → text extraction (the raw-web front end): the one step
  * every real pretraining pipeline runs before anything in this
  * engine, generalizing the reference's scan+normalize stage
  * (`/root/reference/src/main.cpp:191-208` strips non-letters from
  * whitespace tokens; a crawl corpus must first strip MARKUP from
  * pages). Shape follows the public boilerplate-removal literature
  * (jusText / trafilatura): segment the page into BLOCKS at
  * block-level closing tags, score each block with cheap counters,
  * and keep the content blocks —
  *   - `<script>`/`<style>` subtrees are deleted outright;
  *   - a block survives iff its tag-stripped text is long enough
  *     (≥ [[Q72HtmlExtract.MinChars]] chars), its LINK DENSITY is low
  *     (chars inside `<a>` ≤ 1/3 of text chars — navigation chrome is
  *     mostly anchors), and its STOPWORD DENSITY is high enough
  *     (≥ 1/33 of words from [[Q72HtmlExtract.Stopwords]] — prose
  *     carries function words, copyright/nav boilerplate doesn't;
  *     the real-corpus jusText threshold is ~0.30 against a ~400-word
  *     stoplist — here it is calibrated to the synthetic vocabulary,
  *     whose only function words 'the'/'a' cover ~6% of tokens);
  *   - the extracted document is the kept blocks' text in page order.
  * All three gates are INTEGER comparisons (3·link ≤ len,
  * 33·stops ≥ words) so the cross-engine hash can't hinge on float
  * rounding.
  *
  * The corpus ships no HTML, so the page fixture is synthesized
  * INSIDE the query from `documents.text` by a SQL expression valid
  * verbatim in both engines ([[Q72HtmlExtract.htmlSql]]): title +
  * style + script head, a nav bar of anchors, an `<h1>`, the text as
  * two `<p>` halves (the second with a trailing "read more" link),
  * a doc_id-dependent too-short spam block, a doc_id-dependent
  * zero-stopword copyright block, and a footer link row. Each gate
  * has a block only IT removes: nav/footer die by link density, the
  * spam block by length, the copyright block by stopword density —
  * so the oracle's relational replay of the rules checks every gate,
  * and Round12Spec pins a hand-written page to its known text.
  *
  * Scale: pure per-row HOF work (split + transform/filter/aggregate,
  * all codegen'd, no UDF, no join, no shuffle) until the final
  * doc_id sort — at 100 TB this is the embarrassingly-parallel
  * map-only pass a crawl front end must be.
  */
object Q72HtmlExtract extends GraftQuery {
  val name = "q72_html_extract"

  /** Minimum tag-stripped chars for a content block. */
  val MinChars = 20
  /** Function words for the stopword-density gate; only 'the'/'a'
    * occur in the synthetic vocabulary, the rest future-proof the
    * list for real corpora. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "is")

  /** The page fixture — one SQL expression over (doc_id, text), valid
    * verbatim in Spark SQL and DuckDB (concat coerces, CASE/%/substr
    * agree; floor-then-cast avoids DuckDB's round-on-cast). */
  private[graft] val htmlSql: String = """concat(
    '<html><head><title>doc ', doc_id, '</title>',
    '<style>p { color: red; }</style>',
    '<script>var a = 1; if (a < 2) { a = 3; }</script>',
    '</head><body>',
    '<div><a href="/">home</a> <a href="/about">about us</a> <a href="/contact">contact page</a></div>',
    '<h1>', substr(text, 1, 16), '</h1>',
    '<p>', substr(text, 1, cast(floor(length(text)/2.0) as int)), '</p>',
    '<p>', substr(text, cast(floor(length(text)/2.0) as int) + 1), ' <a href="/more">read more</a></p>',
    case when doc_id % 5 = 0 then '<p>buy now</p>' else '' end,
    case when doc_id % 3 = 0 then '<div>copyright 2024 example corporation rights reserved worldwide</div>' else '' end,
    '<div><a href="/tos">terms</a> <a href="/privacy">privacy</a></div>',
    '</body></html>')""".replaceAll("\\s+", " ").trim

  /** Script/style subtree eraser (lazy so nested `<` inside code
    * survives the non-greedy span; RE2 and java.util.regex agree). */
  private[graft] val DropPat = "<script>.*?</script>|<style>.*?</style>"
  /** Block separators: closing tags of the block-level elements. */
  private[graft] val BlockPat = "</title>|</h1>|</p>|</div>"
  /** Anchor text capture (group 1). */
  private[graft] val AnchorPat = "<a [^>]*>([^<]*)</a>"
  /** Any remaining tag. */
  private[graft] val TagPat = "<[^>]*>"

  private def stopArr = Stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")

  /** Extraction over an input frame carrying (doc_id, html) — the
    * production surface; [[run]] wires the synthesized fixture in,
    * Round12Spec feeds hand-written pages, and q72b passes its parsed
    * WARC record columns through `passthrough`. */
  private[graft] def extract(pages: DataFrame,
      passthrough: Seq[String] = Nil): DataFrame =
    extractCols(pages, passthrough).orderBy(col("doc_id"))

  /** The gate chain without the final sort — streaming callers (s21)
    * run it per micro-batch, where a global ORDER BY is illegal. */
  private[graft] def extractCols(pages: DataFrame,
      passthrough: Seq[String] = Nil): DataFrame =
    pages
      .withColumn("blocks",
        split(regexp_replace(col("html"), DropPat, " "), BlockPat))
      // one struct per block: tag-stripped text + anchor-char count
      .withColumn("bstats", expr(s"""
        transform(blocks, b -> named_struct(
          'plain', trim(regexp_replace(regexp_replace(b, '$TagPat', ' '), ' +', ' ')),
          'link_chars', aggregate(
            transform(regexp_extract_all(b, '$AnchorPat', 1), t -> length(t)),
            0, (acc, x) -> acc + x)))"""))
      .withColumn("nonempty", expr("filter(bstats, s -> length(s.plain) > 0)"))
      .withColumn("kept", expr(s"""
        filter(nonempty, s ->
          length(s.plain) >= $MinChars
          AND s.link_chars * 3 <= length(s.plain)
          AND size(filter(split(s.plain, ' '), w -> array_contains($stopArr, w))) * 33
              >= size(split(s.plain, ' ')))"""))
      .select(col("doc_id") +: passthrough.map(col) :+
        size(col("nonempty")).cast("long").as("n_blocks") :+
        size(col("kept")).cast("long").as("n_kept") :+
        expr("array_join(transform(kept, s -> s.plain), ' ')")
          .as("extracted"): _*)

  def run(spark: SparkSession, dir: String): DataFrame =
    extract(Tables.documents(spark, dir)
      .select(col("doc_id"), expr(htmlSql).as("html")))

  /** The same block rules replayed relationally: DuckDB list HOFs
    * over the same fixture expression (regexp_replace needs the
    * explicit 'g'; list_sum AND
    * array_to_string are NULL on an empty list, hence the coalesces —
    * Spark's aggregate-with-0-init / array_join return 0 / ''). */
  val oracle = Some {
    val stopList = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""
    WITH pages AS (
      SELECT doc_id, $htmlSql AS html FROM documents),
    segmented AS (
      SELECT doc_id,
        list_transform(
          regexp_split_to_array(
            regexp_replace(html, '$DropPat', ' ', 'g'), '$BlockPat'),
          b -> struct_pack(
            plain := trim(regexp_replace(regexp_replace(b, '$TagPat', ' ', 'g'), ' +', ' ', 'g')),
            link_chars := coalesce(list_sum(
              list_transform(regexp_extract_all(b, '$AnchorPat', 1), t -> length(t))), 0)))
          AS bstats
      FROM pages),
    scored AS (
      SELECT doc_id,
        list_filter(bstats, s -> length(s.plain) > 0) AS nonempty
      FROM segmented),
    kept AS (
      SELECT doc_id, nonempty,
        list_filter(nonempty, s ->
          length(s.plain) >= $MinChars
          AND s.link_chars * 3 <= length(s.plain)
          AND len(list_filter(string_split(s.plain, ' '), w -> list_contains($stopList, w))) * 33
              >= len(string_split(s.plain, ' '))) AS keep
      FROM scored)
    SELECT doc_id,
      CAST(len(nonempty) AS BIGINT) AS n_blocks,
      CAST(len(keep) AS BIGINT) AS n_kept,
      coalesce(array_to_string(list_transform(keep, s -> s.plain), ' '), '') AS extracted
    FROM kept ORDER BY doc_id
    """.trim
  }
}

/** Q72b — WARC container front end: q72 assumes loose HTML pages, but
  * crawl corpora arrive as WARC archives (ISO 28500) — many records
  * per file, each framed by a header block and an exact
  * `Content-Length` byte count. This operator parses the records out
  * of archive blobs with a LENGTH-DRIVEN scan (offset walk: read
  * header to its blank line, take Content-Length, slice the payload,
  * hop the record separator) — never a delimiter split, because a
  * payload may legally CONTAIN `WARC/1.0` or `Content-Length:` lines
  * (the fixture plants exactly that decoy in every doc_id % 7 == 0
  * page, so a split-based parser hash-fails) — then splits each HTTP
  * response payload at its own blank line and feeds the HTML body
  * through q72's block gates.
  *
  * The corpus ships no WARC files, so archives are synthesized INSIDE
  * the query (the q72/q25c pattern): one archive per
  * (source, doc_id div [[Q72bWarcExtract.ArchiveChunk]]) bucket —
  * bounded records per archive, archive COUNT grows with the corpus,
  * so parallelism is per-archive exactly as a real crawl job's
  * one-task-per-WARC-file is — with records concatenated in doc_id
  * order (sorted struct collect, deterministic). The synthesis is
  * ASCII, so Content-Length in chars equals the spec's bytes; the
  * 100 TB path reads real archives through a binary DSv2 scan with
  * the same walk.
  *
  * The oracle does NOT re-parse: it replays what a CORRECT parser
  * must emit — per document, the known URI/status and q72's block
  * rules over the same synthesized page (decoy included) — so any
  * mis-framing anywhere in an archive (one wrong offset corrupts
  * every later record) breaks the hash. Parser correctness on
  * adversarial framing is additionally pinned by WarcSpec on
  * hand-written archives.
  *
  * Shape: one groupBy to assemble archives (fixture-only cost), then
  * per-row fold + explode + q72's per-row gates; one final sort. The
  * offset walk is O(archive length): locate() stops at the first
  * match and each payload is sliced once.
  */
object Q72bWarcExtract extends GraftQuery {
  val name = "q72b_warc_extract"
  import Q72HtmlExtract.htmlSql

  /** Records per archive bucket (bounds the per-task fold). */
  val ArchiveChunk = 100

  private val CRLF = "\r\n"
  /** Page fixture + the framing decoy: doc_id % 7 == 0 pages carry a
    * literal WARC header inside their payload. The decoy block also
    * exercises q72's stopword gate (0 stopwords → dropped), so it
    * never pollutes `extracted` — but it DOES count in n_blocks. */
  private[graft] val pageSql =
    s"""concat($htmlSql, case when doc_id % 7 = 0
       then concat('<p>WARC/1.0', chr(13), chr(10),
                   'Content-Length: 7 decoy</p>')
       else '' end)""".replaceAll("\\s+", " ").trim

  /** One WARC response record for (doc_id, page): WARC header with
    * exact Content-Length over an HTTP/1.1 response, record closed by
    * a double CRLF (the spec's two-newline separator). */
  private[graft] val recordSql =
    s"""concat(
      'WARC/1.0$CRLF',
      'WARC-Type: response$CRLF',
      'WARC-Target-URI: http://example.org/doc/', doc_id, '$CRLF',
      'Content-Length: ', length(concat(
        'HTTP/1.1 200 OK${CRLF}Content-Type: text/html$CRLF$CRLF', page)),
      '$CRLF$CRLF',
      'HTTP/1.1 200 OK${CRLF}Content-Type: text/html$CRLF$CRLF', page,
      '$CRLF$CRLF')"""

  /** The length-driven record walk over a bound archive string `w_`:
    * an aggregate fold of at most nrec_ steps (nrec_ counts
    * 'WARC/1.0' substrings — an UPPER bound, decoys only add no-op
    * steps), each step guarded against malformed tails (missing
    * blank line, missing Content-Length → stop advancing). */
  private def parseFold = {
    import NorthStar.let
    val sep = s"'$CRLF$CRLF'"
    val recType =
      "array<struct<uri: string, http_status: int, html: string>>"
    val step =
      let("he_", s"locate($sep, w_, st.off)",
        "IF(he_ = 0, st, " +
          let("hdr_", "substring(w_, st.off, he_ - st.off)",
            let("cl_", "cast(nullif(regexp_extract(hdr_, " +
              "'Content-Length: ([0-9]+)', 1), '') as int)",
              "IF(cl_ IS NULL, st, " +
                let("pay_", "substring(w_, he_ + 4, cl_)",
                  let("be_", s"locate($sep, pay_)",
                    "named_struct('off', he_ + 4 + cl_ + 4, " +
                      "'recs', concat(st.recs, array(named_struct(" +
                      "'uri', regexp_extract(hdr_, " +
                      "'WARC-Target-URI: ([a-z0-9:/.]+)', 1), " +
                      "'http_status', cast(nullif(regexp_extract(pay_, " +
                      "'HTTP/1.1 ([0-9]+)', 1), '') as int), " +
                      "'html', IF(be_ = 0, '', substring(pay_, be_ + 4))" +
                      "))))")) + ")")) + ")")
    let("w_", "warc",
      let("nrec_",
        "cast((length(w_) - length(replace(w_, 'WARC/1.0', ''))) / 8 as int)",
        "IF(nrec_ = 0, cast(array() as " + recType + "), " +
          "aggregate(sequence(1, nrec_), named_struct('off', 1, " +
          "'recs', cast(array() as " + recType + ")), " +
          s"(st, k_) -> IF(st.off + 3 > length(w_), st, $step), " +
          "st -> st.recs))"))
  }

  /** Archive blobs → one row per parsed record (uri, status, html). */
  private[graft] def parseArchives(archives: DataFrame): DataFrame =
    archives
      .select(explode(expr(parseFold)).as("rec"))
      .select(col("rec.uri").as("uri"),
        col("rec.http_status").as("http_status"),
        col("rec.html").as("html"))

  def run(spark: SparkSession, dir: String): DataFrame = {
    // spreadCpu: the assembled archives are a few hundred KB, so AQE
    // coalesces the post-groupBy stage to ONE task — and the parse
    // fold below is the query's dominant CPU (~1.2 s serial, paid
    // TWICE: once by the final sort's range sampling, once by the
    // sort itself). Spread across cores the fold is ~40 ms per pass
    // (OPTIMIZATION_r20.md: same-window pair 3.3 → 2.2 s, full benches
    // 2.9 → 1.2 s; see Tables.spreadCpu for the scale guard and the
    // rejected global-AQE alternative).
    val archives = Tables.spreadCpu(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), expr(pageSql).as("page"))
      .select(col("doc_id"), col("source"), expr(recordSql).as("rec"))
      .groupBy(col("source"),
        expr(s"doc_id div $ArchiveChunk").as("chunk"))
      .agg(concat_ws("", expr(
        "transform(array_sort(collect_list(struct(doc_id, rec))), " +
          "x_ -> x_.rec)")).as("warc")))
    val records = parseArchives(archives)
      .withColumn("doc_id",
        expr("cast(regexp_extract(uri, 'doc/([0-9]+)', 1) as bigint)"))
    Q72HtmlExtract.extract(records, Seq("uri", "http_status"))
  }

  /** Replays the CONTRACT, not the parser: the known per-doc URI and
    * status plus q72's gate chain over the same decoy-carrying page —
    * one mis-framed record anywhere breaks a later record's row. */
  val oracle = Some {
    val stopList = Q72HtmlExtract.Stopwords
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val duckPage =
      s"""concat($htmlSql, CASE WHEN doc_id % 7 = 0
         THEN concat('<p>WARC/1.0', chr(13), chr(10),
                     'Content-Length: 7 decoy</p>')
         ELSE '' END)""".replaceAll("\\s+", " ").trim
    s"""
    WITH pages AS (
      SELECT doc_id,
        'http://example.org/doc/' || doc_id AS uri,
        200 AS http_status,
        $duckPage AS html
      FROM documents),
    segmented AS (
      SELECT doc_id, uri, http_status,
        list_transform(
          regexp_split_to_array(
            regexp_replace(html, '${Q72HtmlExtract.DropPat}', ' ', 'g'),
            '${Q72HtmlExtract.BlockPat}'),
          b -> struct_pack(
            plain := trim(regexp_replace(regexp_replace(b,
              '${Q72HtmlExtract.TagPat}', ' ', 'g'), ' +', ' ', 'g')),
            link_chars := coalesce(list_sum(
              list_transform(regexp_extract_all(b,
                '${Q72HtmlExtract.AnchorPat}', 1), t -> length(t))), 0)))
          AS bstats
      FROM pages),
    scored AS (
      SELECT doc_id, uri, http_status,
        list_filter(bstats, s -> length(s.plain) > 0) AS nonempty
      FROM segmented),
    kept AS (
      SELECT doc_id, uri, http_status, nonempty,
        list_filter(nonempty, s ->
          length(s.plain) >= ${Q72HtmlExtract.MinChars}
          AND s.link_chars * 3 <= length(s.plain)
          AND len(list_filter(string_split(s.plain, ' '),
                w -> list_contains($stopList, w))) * 33
              >= len(string_split(s.plain, ' '))) AS keep
      FROM scored)
    SELECT doc_id, uri, http_status,
      CAST(len(nonempty) AS BIGINT) AS n_blocks,
      CAST(len(keep) AS BIGINT) AS n_kept,
      coalesce(array_to_string(list_transform(keep, s -> s.plain), ' '), '')
        AS extracted
    FROM kept ORDER BY doc_id
    """.trim
  }
}

/** The raw-text front-end family: markup extraction + unicode
  * canonicalization — the two passes that turn crawl bytes into the
  * clean `documents.text` column every downstream operator assumes. */
object Html {
  val all: Seq[GraftQuery] =
    Seq(Q72HtmlExtract, Q72bWarcExtract, Q73UnicodeNormalize)
}
