package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.NormalizeWord

/** Q18–Q24 — the LLM-training-data pipeline surface (north star):
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard with
  * prefix filtering, embedding cosine), similarity search (exact
  * top-k + LSH-bucketed ANN), and text analysis (top terms,
  * language-ID, quality scoring, token counting, fingerprinting).
  *
  * Cross-engine determinism strategy (everything hash-matches DuckDB):
  *  - all hashing is md5 hex (identical in both engines); MinHash
  *    minimizes hex STRINGS lexicographically — uniform fixed-length
  *    hex makes that a valid uniform hash order, and it needs no
  *    hex→int conversion that the two engines would do differently;
  *  - float→decimal casts go through the scale-10 path validated by
  *    Q15 (Spark CAST(float AS DECIMAL(18,10)) ≡ DuckDB
  *    CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(18,10)));
  *    products stay ≤ DECIMAL(37,20) (exact, no precision loss in
  *    either engine) and are summed by a decimal SUM aggregate — NOT
  *    a fold, whose per-step precision growth Spark would round;
  *  - cosine = CAST(dot AS DOUBLE)/(sqrt(n2a)*sqrt(n2b)) — one IEEE
  *    expression over identical exact operands, so bit-equal without
  *    any ROUND;
  *  - ratios are single IEEE divisions of exact integer counts;
  *  - per-row dot products (Q18e) are left-folds over doubles: both
  *    engines add identical IEEE products in identical element order,
  *    so the result is bit-equal with no decimal detour at all;
  *  - DuckDB SUM(BIGINT) returns HUGEINT (decimal128 in arrow) — every
  *    integer SUM in an oracle is wrapped in CAST(... AS BIGINT) to
  *    match Spark's int64 (this, not regex dialect, broke q23 in r1).
  */
object NorthStar {
  /** MinHash permutation/hash constants, shared by q18b's flat-agg
    * pipeline, s12's per-row HOF pipeline, and (as literals) the
    * DuckDB oracle CTEs — ONE definition, so the tiers cannot
    * silently desynchronize from the oracle they share. Defined
    * before every use site (vals initialize in declaration order). */
  private[graft] val MinhashP = 1000000007L
  private[graft] val MinhashA = 2654435761L
  private[graft] val MinhashB = 40503L
  /** md5-based shingle hash over SQL variable `v`. */
  private[graft] def shingleHashExpr(v: String): String =
    s"cast(conv(substring(md5($v), 1, 15), 16, 10) as bigint) % $MinhashP"
  /** 8 band keys (4 signature slots each) over signature array `sig` —
    * the banding GEOMETRY, shared by q18b's flat-agg pipeline and
    * s12's per-row pipeline like the constants above: band width/count
    * changed in one place changes every tier or none. */
  private[graft] def bandKeysExpr(sig: String): String =
    s"transform(sequence(0, 7), j_ -> concat_ws(',', cast(j_ as string), " +
      s"element_at($sig, 4*j_+1), element_at($sig, 4*j_+2), " +
      s"element_at($sig, 4*j_+3), element_at($sig, 4*j_+4)))"
  /** Codegen'd 32-term signature match count between arrays `a`/`b`. */
  private[graft] def matchCountExpr(a: String, b: String): String = (1 to 32)
    .map(i => s"IF(element_at($a, $i) = element_at($b, $i), 1, 0)")
    .mkString(" + ")
  /** Embedding dimension — fixed by the fixture schema (FIXTURES.md:
    * `embedding ARRAY<FLOAT>` dim 64); at scale the dimension is
    * likewise known at plan time, so the per-pair arithmetic can be a
    * flat codegen'd expression instead of an interpreted HOF. */
  private[queries] val EmbDim = 64
  /** Per-pair embedding dot product — the NATIVE looped expression
    * (`graft_dot`, `functions/ArrayDot.scala`): ascending-index
    * left-associative `sum += (double) a[i] * (double) b[i]`, the
    * same IEEE products in the same order as the DuckDB oracles'
    * list_reduce folds, so results stay bit-equal. Two spellings
    * preceded it, both measured slower: an interpreted
    * aggregate(zip_with(...)) HOF, then a flat [[EmbDim]]-term
    * element_at chain — correct and nominally codegen'd, but once
    * Catalyst pushes a `cos >= τ` filter into a pair-join CONDITION
    * the unrolled chain blows the JVM's ~8 KB JIT method limit and
    * every candidate pair pays interpreted bytecode (~10 µs/pair,
    * the round-11 q70 plan audit). The loop JITs; the join condition
    * stays hot. Shared by q18e and the q70 family. */
  private[queries] def flatDotExpr(a: String, b: String): String =
    s"graft_dot($a, $b)"
  /** Squared L2 norm of the `embedding` column: the same native loop
    * against itself — identical arithmetic (float widened exactly,
    * same order) to the HOF fold it replaces, minus the interpreted
    * lambda evaluation per row. */
  private[queries] val embNorm2Expr = "graft_dot(embedding, embedding)"

  /** Whitespace tokens, empties dropped (reference tokenizer, R4/R6). */
  private[graft] val toksExpr = "filter(split(text, '\\\\s+'), t -> t != '')"
  /** Distinct word 3-shingles of `t`; empty when size(t) < 3. The
    * guard sits inside the expression because a `size(t) >= 3` filter
    * does not stop Catalyst from evaluating the projection on shorter
    * rows, where `sequence(1, size(t)-2)` counts down through index 0
    * and `element_at(t, 0)` throws. */
  private[graft] val shinglesExpr =
    "array_distinct(transform(" +
      "IF(size(t) < 3, array(), sequence(1, size(t)-2)), " +
      "i -> concat_ws(' ', element_at(t,i), element_at(t,i+1), element_at(t,i+2))))"
  /** Non-empty trimmed lines of `text` (q47's intra-doc and q49's
    * cross-doc repetition signals share one definition of "line"). */
  private[queries] val linesExpr =
    "filter(transform(split(text, '\n'), s_ -> trim(s_)), s_ -> s_ != '')"
  /** DuckDB mirrors of the above. */
  private[graft] val duckToks = raw"list_filter(string_split_regex(text, '\s+'), t -> t <> '')"
  private[queries] val duckLines =
    "list_filter(list_transform(string_split(text, chr(10)), s_ -> trim(s_)), s_ -> s_ <> '')"
  private[queries] val duckShingles =
    "list_distinct(list_transform(range(1, len(t)-1), " +
      "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"

  /** Per-document distinct 3-shingle sets (docs with ≥3 tokens).
    * `t` is let-bound: shinglesExpr references it 3× per shingle
    * index, and CollapseProject would otherwise re-tokenize the text
    * at every reference (measured 11 s of q18d's 19 s at sf0.1).
    *
    * Deliberately NO repartition barrier here: consumers reference
    * the shingle sets from several plan branches (q18d 3×), but a
    * ReuseExchange anchor was measured SLOWER at sf0.1 (6.4 → 8.6 s)
    * — shuffling the full shingle arrays costs more than recomputing
    * the codegen'd tokenize+shingle projection per branch. */
  private[queries] def shingleSets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(toksExpr).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), expr(let("t", "t", shinglesExpr)).as("sh"))

  /** Spark float→decimal element cast (Q15-validated parity path). */
  private[queries] def dec(c: Column): Column = c.cast("decimal(18,10)")
  /** DuckDB side of the same cast. */
  private[queries] def duckDec(x: String): String =
    s"CAST(CAST(CAST($x AS DOUBLE) AS VARCHAR) AS DECIMAL(18,10))"

  /** DuckDB decimal→double through VARCHAR: DuckDB's direct
    * decimal→double cast double-rounds (int128→double, then /10^s),
    * off by 1 ulp from Spark's correctly-rounded BigDecimal path;
    * decimal→varchar→double is correctly rounded in both engines. */
  private[queries] def duckDbl(x: String): String =
    s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"

  /** SQL-expression "let": bind `value` ONCE as lambda variable `name`
    * inside `body`. Catalyst's CollapseProject will inline an aliased
    * projection into every reference site of the next projection; when
    * the reference sits inside a higher-order-function lambda that runs
    * 64 times per row, the aliased expression is re-evaluated 64× per
    * row (measured: q18c's chunk stage went 1.1 s → 40 s at sf0.01).
    * Routing the value through a single-element array + transform makes
    * it a lambda-bound variable, evaluated exactly once per row. */
  private[graft] def let(name: String, value: String, body: String): String =
    s"element_at(transform(array($value), $name -> $body), 1)"

  /** DuckDB CTEs shared by every shingle-based oracle: tokenization +
    * per-doc distinct 3-shingle sets. */
  private[queries] val duckShingleCtes =
    s"""toks AS (SELECT doc_id, $duckToks AS t FROM documents),
    sh AS (SELECT doc_id, $duckShingles AS sh FROM toks WHERE len(t) >= 3)"""

  /** DuckDB CTE chain (appended after duckShingleCtes) ending in
    * `pairs(doc_a, doc_b, est_jaccard)` — the MinHash band-join
    * candidates at threshold 0.5. Used by q18b (pair report) and
    * q18f (cluster closure). */
  private[queries] val duckMinhashPairCtes = s"""hs AS (SELECT doc_id, list_transform(sh, s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(substr(md5(s), 1, 15), ''), c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
           (acc, x) -> acc * 16 + x) % 1000000007) AS hs FROM sh),
    sig AS (SELECT doc_id, list_transform(range(0, 32),
            i -> list_min(list_transform(hs, h ->
              (((2654435761 * (i+1)) % 1000000007) * h + ((40503 * (i+1) + 7) % 1000000007)) % 1000000007))) AS sig
            FROM hs),
    bands AS (SELECT doc_id, CAST(j AS VARCHAR) || ',' || CAST(sig[4*j+1] AS VARCHAR) || ',' || CAST(sig[4*j+2] AS VARCHAR)
                || ',' || CAST(sig[4*j+3] AS VARCHAR) || ',' || CAST(sig[4*j+4] AS VARCHAR) AS bkey
              FROM sig, unnest(range(0, 8)) AS u(j)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
    pairs AS (SELECT doc_a, doc_b,
      CAST(len(list_filter(range(1,33), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32.0 AS est_jaccard
      FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
      WHERE CAST(len(list_filter(range(1,33), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32.0 >= 0.5)"""

  /** DuckDB CTE chain (appended after duckShingleCtes) ending in
    * `jpairs(doc_a, doc_b, jaccard)` — the exact n-gram Jaccard pairs
    * at threshold 0.8 via PPJoin prefix filtering. Used by q18d (pair
    * report) and q18f (cluster closure); CTE names are disjoint from
    * the MinHash chain so both can live in one WITH clause. */
  private[queries] val duckNgramPairCtes = """ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh),
    gdf AS (SELECT g, count(*) AS gdf FROM ex GROUP BY g),
    ranked AS (SELECT ex.doc_id, ex.n, ex.g,
               row_number() OVER (PARTITION BY ex.doc_id ORDER BY gdf.gdf, ex.g) AS rn
               FROM ex JOIN gdf ON ex.g = gdf.g),
    prefix AS (SELECT doc_id, g FROM ranked WHERE rn <= n - ((4*n + 4) // 5) + 1),
    ncand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM prefix a JOIN prefix b ON a.g = b.g AND a.doc_id < b.doc_id),
    jraw AS (SELECT doc_a, doc_b,
          CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
          FROM ncand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b),
    jpairs AS (SELECT doc_a, doc_b, jaccard FROM jraw WHERE jaccard >= 0.8)"""

  /** DuckDB CTE chain (appended after the two pair chains) ending in
    * `lab(id, cluster_id)` — the connected-components closure over
    * the union of MinHash and n-gram pairs. Shared by q18f (cluster
    * report) and q42 (victim gate) so the closure definition can
    * never desynchronize between them. */
  private[queries] val duckClosureCtes = """upairs AS (SELECT doc_a, doc_b FROM pairs
               UNION SELECT doc_a, doc_b FROM jpairs),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM upairs
              UNION ALL SELECT doc_b, doc_a FROM upairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
    lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)"""

  /** DuckDB CTE chain ending in `qq(doc_id, n_tokens, quality)` — the
    * q22 composite quality score over non-empty documents. Shared by
    * the q22 and q42 oracles (one definition of the tokenizer, stop
    * list, and 0.4/0.3/0.3 weights in SQL). */
  private[queries] val duckQualityCtes = raw"""qs AS (SELECT doc_id, lang, text,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
           FROM documents),
    qc AS (SELECT doc_id, lang, len(t) AS n_tokens, length(text) AS n_chars,
           len(list_distinct(t)) AS n_uniq,
           list_aggregate(list_transform(t, x -> length(x)), 'sum') AS sum_tok_len,
           len(list_filter(t, tok -> list_contains(['the','a','of','and','is','to','in'], tok))) AS stop_hits,
           length(regexp_replace(text, '[a-z0-9\s]', '', 'g')) AS n_punct
           FROM qs WHERE len(t) > 0),
    qq AS (SELECT doc_id, lang, n_tokens, n_chars, n_uniq, sum_tok_len, stop_hits, n_punct,
           (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.4
             + (CAST(stop_hits AS DOUBLE) / n_tokens) * 0.3
             + (1.0 - CAST(n_punct AS DOUBLE) / n_chars) * 0.3 AS quality
           FROM qc)"""

  /** DuckDB CTE chain ending in `rep(doc_id, lang, n_lines,
    * dup_line_frac, top_bigram, top_count, n_bigrams, top_share)` —
    * the repetition signals, computed RELATIONALLY (unnest + group by
    * + argmax join) where the Spark side folds per row: two genuinely
    * independent implementations of one contract. Shared by q47 and
    * q42 so the signal definition can never desynchronize. */
  private[queries] val duckRepetitionCtes = raw"""rtoks AS (SELECT doc_id, lang, text,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
           FROM documents),
    rl AS (SELECT doc_id, lang, t,
           list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)), s -> s <> '') AS ln
           FROM rtoks),
    rb AS (SELECT doc_id, lang, ln,
           list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bg
           FROM rl WHERE len(t) >= 2),
    rcnt AS (SELECT doc_id, b, count(*) AS c
             FROM (SELECT doc_id, unnest(bg) AS b FROM rb) GROUP BY 1, 2),
    rtop AS (SELECT doc_id, max(c) AS top_c FROM rcnt GROUP BY 1),
    rarg AS (SELECT c.doc_id, min(c.b) AS top_bigram
             FROM rcnt c JOIN rtop t ON c.doc_id = t.doc_id AND c.c = t.top_c
             GROUP BY 1),
    rep AS (SELECT rb.doc_id, rb.lang, CAST(len(rb.ln) AS INT) AS n_lines,
            CAST(len(rb.ln) - len(list_distinct(rb.ln)) AS DOUBLE)
              / NULLIF(len(rb.ln), 0) AS dup_line_frac,
            ra.top_bigram, CAST(rt.top_c AS INT) AS top_count,
            CAST(len(rb.bg) AS INT) AS n_bigrams,
            CAST(rt.top_c AS DOUBLE) / NULLIF(len(rb.bg), 0) AS top_share
            FROM rb JOIN rtop rt ON rb.doc_id = rt.doc_id
            JOIN rarg ra ON rb.doc_id = ra.doc_id)"""

  /** DuckDB CTE chain ending in `xdoc(doc_id, shared_line_frac)` — the
    * q49 cross-document shared-paragraph share. Shared by the q49 and
    * q42 oracles (names disjoint from the other chains). */
  private[queries] val duckCrossDocCtes = s"""xln AS (SELECT doc_id, lang, unnest($duckLines) AS line FROM documents),
    xl AS (SELECT doc_id, lang, md5(line) AS lh FROM xln),
    xbyl AS (SELECT lh, count(DISTINCT doc_id) AS n_docs FROM xl GROUP BY lh),
    xdoc AS (SELECT xl.doc_id,
             CAST(SUM(CASE WHEN b.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS shared_line_frac
             FROM xl JOIN xbyl b ON xl.lh = b.lh GROUP BY xl.doc_id)"""

  // Declared AFTER the helper vals: forcing the query objects during
  // this object's own init would otherwise capture them as null.
  val all: Seq[GraftQuery] = Seq(
    Q18DedupExact, Q18bDedupMinHash, Q18cDedupSimHash, Q18dDedupNgram,
    Q18eDedupEmbedding, Q18fDedupClusters, Q18gDedupLabelsStore,
    Q19SimilarityTopK, Q19hAnnQueryBatch, Q19bAnnLsh,
    Q19cAnnSparkMl, Q19dAnnIvf, Q19eAnnIvfStore, Q19fAnnRebalance,
    Q19gAnnPq,
    Q20TopTermsPerLang, Q21LanguageId,
    Q22QualityScore, Q23TokenCount, Q24Fingerprint, Q26TfIdf,
    Q42CorpusClean, Q42bCorpusCleanFull, Q43TopBigrams, Q44SourceCap,
    Q45TokenPacking,
    Q46Decontaminate, Q46bDecontaminateDfCap, Q46cDecontaminateBloom,
    Q47Repetition, Q48MixSample,
    Q49CrossDocParagraphs, Q74Bm25, Q74bBm25Store, Q74cBm25PhraseStore,
    Q74dBm25PhraseBoost, Q74eBm25ProximityBoost, Q74fBm25QueryTable,
    Q75HybridRrf, Q75bHybridRrfStore, Q75cHybridRrf3,
    Q75dFusionQueryTables,
    Q76ContrastiveTriplets, Q76bHardNegatives, Q76cTripletsBackfilled,
    Q77DsirSelection, Q77bDsirPacking, Q77cDsirTarget, Q77dDsirStore)
}

/** Q18 — exact dedup: group by content hash, keep min(doc_id).
  * At 100 TB: one shuffle keyed by a 128-bit hash — the canonical
  * first dedup pass; the hash groupBy never materializes texts. */
object Q18DedupExact extends GraftQuery {
  val name = "q18_dedup_exact"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(lower(col("text"))).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
           count(lit(1)).as("n_copies"),
           array_join(sort_array(collect_set(col("doc_id"))), " ").as("doc_ids"))
      .orderBy(col("keeper_doc_id"))
  val oracle = Some("""
    SELECT md5(lower(text)) AS content_hash,
           min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies,
           array_to_string(list_sort(list(doc_id)), ' ') AS doc_ids
    FROM documents GROUP BY 1 ORDER BY keeper_doc_id
  """.trim)
}

/** Q18b — MinHash + LSH near-dup detection. Each shingle is hashed
  * ONCE (md5 → 60-bit int from the first 15 hex chars, mod p); the 32
  * permutations are derived arithmetically as (a_i·h + b_i) mod p with
  * p = 1e9+7 — every product stays < 2^60, exact BIGINT in both
  * engines. 8 bands × 4 rows; candidate pairs share a band key;
  * estimated Jaccard = matching-signature fraction.
  *
  * Scale shape: signatures are computed per-row (no shuffle); the
  * only shuffles are the band-key self-join and the distinct — both
  * keyed on band digests, so buckets are tiny unless the docs really
  * collide (AQE skew-join absorbs pathological clusters). At 100 TB
  * the corpus passes through md5 exactly once (round 1 did 32×,
  * 513 s of the 797 s bench). */
object Q18bDedupMinHash extends GraftQuery {
  import NorthStar._
  val name = "q18b_dedup_minhash"
  def run(spark: SparkSession, dir: String): DataFrame =
    pairsFrom(shingleSets(spark, dir)).orderBy(col("doc_a"), col("doc_b"))
  /** Signature stage — (doc_id, sig[32]) — as explode + 32 flat
    * codegen'd min aggregations (the q18c vote-sum pattern): each
    * shingle becomes a row, is md5-hashed ONCE via native conv()
    * (codegen'd — the interpreted 15-step fold was round 1's residual
    * hot spot), and the 32 arithmetic permutations reduce as min()
    * columns in ONE whole-stage-codegen'd hash aggregation with
    * map-side partial combine — round 3 evaluated them as 32
    * interpreted array_min passes over each doc's hash array. The
    * DuckDB oracle computes the same VALUES with list folds; method
    * need not match. Shared by pairsFrom (self-join dedup) and
    * [[bandRows]] (the dedup stores' rows, and every batch delta
    * judged against them) so the tiers can never drift. */
  private[graft] def signatures(shingles: DataFrame): DataFrame = {
    val shex = shingles.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), expr(NorthStar.shingleHashExpr("s")).as("h"))
    val permCols = (0 until 32).map { i =>
      min(expr(s"(((${NorthStar.MinhashA} * ${i + 1}) % ${NorthStar.MinhashP}) * h + " +
        s"((${NorthStar.MinhashB} * ${i + 1} + 7) % ${NorthStar.MinhashP})) % ${NorthStar.MinhashP}")).as(s"m$i")
    }
    shex.groupBy(col("doc_id")).agg(permCols.head, permCols.tail: _*)
      .select(col("doc_id"),
        array((0 until 32).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** (doc_id, sig, bkey) MinHash band rows of a (doc_id, text) frame —
    * one row per band key of each doc with ≥ 3 tokens. The band-index
    * shape of the persisted dedup stores (q57b's signature store,
    * q18g's labels store), shared by their builds and admits, q57's
    * per-run base and every batch delta judged against them. */
  private[graft] def bandRows(docs: DataFrame): DataFrame =
    signatures(
        docs.select(col("doc_id"), expr(NorthStar.toksExpr).as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("doc_id"),
            expr(NorthStar.let("t", "t", NorthStar.shinglesExpr)).as("sh")))
      .select(col("doc_id"), col("sig"),
        explode(expr(NorthStar.let("sg", "sig",
          NorthStar.bandKeysExpr("sg")))).as("bkey"))

  /** The candidate pairs WITHOUT the final sort, over a caller-chosen
    * shingle frame — q18f consumes these (a global orderBy would add
    * a range-partitioning sampling pass that re-runs the whole
    * signature pipeline a second time, and q18f anchors the shingle
    * frame so its two pair pipelines share one computation). */
  private[queries] def pairsFrom(shingles: DataFrame): DataFrame = {
    // The explicit repartition is the materialization barrier (sig is
    // referenced from both band-join sides + the verify columns). It
    // is NOT redundant: when the caller hands an already-doc_id-
    // partitioned shingle frame (q18f's anchor), the groupBy inserts
    // no exchange of its own, and without any barrier the whole
    // signature pipeline re-runs per plan branch (measured 8 s → 30 s
    // for q18f). One tiny shuffle of (doc_id, 32×int64) rows.
    val sig = signatures(shingles).repartition(col("doc_id"))
    // sig rides along through the band join: Spark does not share DAG
    // subtrees, so separate sa/sb join branches would re-run the whole
    // signature pipeline twice more.
    val bands = sig.select(col("doc_id"), col("sig"),
      explode(expr(let("sg", "sig", NorthStar.bandKeysExpr("sg")))).as("bkey"))
    // codegen'd 32-term match count (no per-pair interpreted HOF)
    val matches = NorthStar.matchCountExpr("sa", "sb")
    bands.as("a")
      .join(bands.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .dropDuplicates("doc_a", "doc_b")
      // Observability for the blocked join (the AsofJoinExec-metrics
      // rule applied to the band pipeline): candidate vs verified
      // pair counts surface in observedMetrics/the SQL UI without a
      // second run. CAVEAT (applies to any observe/SQLMetric below a
      // global sort): a trailing orderBy's range-partition sampling
      // re-executes this subtree, so absolute counts are an exact
      // k-multiple of one pass (k = execution count, 2 under q18b's
      // final sort). The candidate/verified RATIO — the blocking-
      // health signal — is sampling-invariant; Round10Spec asserts
      // the multiple structure explicitly.
      .observe("q18b_band_stats", count(lit(1)).as("candidate_pairs"))
      .select(col("doc_a"), col("doc_b"),
        (expr(matches).cast("double") / 32.0).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .observe("q18b_verify_stats", count(lit(1)).as("verified_pairs"))
  }
  val oracle = Some(s"""
    WITH ${NorthStar.duckShingleCtes},
    ${NorthStar.duckMinhashPairCtes}
    SELECT doc_a, doc_b, est_jaccard FROM pairs ORDER BY doc_a, doc_b
  """.trim)
}

/** Q18f — dedup CLUSTER resolution: the union of the q18b (MinHash)
  * and q18d (exact n-gram Jaccard) candidate pairs resolved into
  * duplicate groups (connected components) with one keeper —
  * min(doc_id) — per group, via iterative min-label propagation over
  * the pair graph. Each iteration is one keyed join + groupBy (no
  * driver-side data, only a scalar convergence count); iterations =
  * O(component diameter), and near-dup components are shallow (a dup
  * cluster's pair graph is dense), so 2-4 rounds in practice. The
  * edge set is persisted so both pair pipelines run ONCE, not once
  * per iteration. The DuckDB oracle computes the same components with
  * a recursive CTE over the same two pair CTE chains. */
object Q18fDedupClusters extends GraftQuery {
  val name = "q18f_dedup_clusters"

  def run(spark: SparkSession, dir: String): DataFrame = {
    val finalLabels = labels(spark, dir)
    finalLabels.groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(sort_array(collect_set(col("id"))), " ").as("doc_ids"))
      .orderBy(col("cluster_id"))
  }

  /** Converged (id, lbl) labels — lbl = min doc_id of the connected
    * component. private[queries] so downstream passes (q42's corpus
    * clean) can consume victim/keeper decisions without re-deriving
    * the closure; lineage is already truncated (localCheckpoint). */
  private[queries] def labels(spark: SparkSession, dir: String): DataFrame = {
    // pairs is persisted BEFORE the symmetric-edge union: edges
    // references it twice (both directions), and every loop iteration
    // is a separate action — without the cache the two full pair
    // pipelines would re-run 2× per action (measured 34 s vs 13 s at
    // sf0.1). The shared shingle frame is DISK_ONLY, deliberately:
    // it is a CORPUS-SCALE intermediate (array<string> per doc, re-
    // read only 4× — 1× MinHash, 3× n-gram), and a memory-tier cache
    // of corpus-scale data contends with execution in the unified
    // pool — the 1000×-decade run OOMed at HashAggregateExec's
    // INITIAL 256 KB map allocation while MEMORY_AND_DISK unrolling
    // pinned storage (round-13 BASELINE). DISK_ONLY writes through
    // without unroll pinning; at fixture scale the serde delta is
    // noise, at executor scale it converts an OOM into sequential
    // disk re-reads. Not exchange-anchored: the MinHash branch
    // reduces early (explode + map-side partial agg), so shuffling
    // the full shingle arrays to share them costs more than it saves.
    val sh = NorthStar.shingleSets(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val pairs = Q18bDedupMinHash.pairsFrom(sh).select(col("doc_a"), col("doc_b"))
      .union(Q18dDedupNgram.pairsFrom(sh).select(col("doc_a"), col("doc_b")))
      .persist()
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // Seed with the first propagation round folded in: every node
    // appears as src (edges are symmetric), so min(self, min neighbor)
    // covers all nodes and replaces both the distinct() and one loop
    // iteration.
    var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("lbl"))
      .persist()
    def lblSum(df: DataFrame): Long = {
      val r = df.agg(sum(col("lbl"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // Labels only ever decrease (least), so the label sum strictly
    // decreases iff any label changed — one scalar agg per iteration
    // replaces a join+count convergence check.
    var prevSum = -1L
    var curSum = lblSum(labels)
    while (curSum != prevSum) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      // A pointer-jump second hop (lbl ← min(lbl, lbl(lbl))) was
      // tried here in r20 and REVERTED: the jump self-join references
      // the stepped frame twice, so unpersisted it re-runs the whole
      // neighbor-min pipeline per reference (measured 7.5 → 18.7 s),
      // and persisting it adds the very per-iteration materialization
      // the jump was meant to save. Near-dup components are shallow
      // (2–4 hops); the plain step converges in as few actions.
      val next = labels.as("o")
        .join(nbrMin, col("o.id") === nbrMin("src"), "left")
        .select(col("o.id").as("id"),
          least(col("o.lbl"), coalesce(col("nlbl"), col("o.lbl"))).as("lbl"))
        .persist()
      prevSum = curSum
      curSum = lblSum(next)
      labels.unpersist()
      labels = next
    }
    // Truncate lineage before releasing the caches: the returned plan
    // executes AFTER run() returns, so unpersisting pairs/labels here
    // would otherwise let an eviction silently re-run both full pair
    // pipelines. localCheckpoint materializes the (tiny) label table
    // with no upstream lineage; its blocks are reclaimed by the
    // ContextCleaner when the result is GC'd. (Non-reliable: on a
    // real cluster an executor loss fails the job instead of
    // recomputing — swap for checkpoint() with a checkpoint dir when
    // running multi-node.)
    val finalLabels = labels.localCheckpoint(true)
    labels.unpersist()
    pairs.unpersist()
    sh.unpersist()
    finalLabels
  }
  val oracle = Some(s"""
    WITH RECURSIVE ${NorthStar.duckShingleCtes},
    ${NorthStar.duckMinhashPairCtes},
    ${NorthStar.duckNgramPairCtes},
    ${NorthStar.duckClosureCtes}
    SELECT cluster_id, count(*) AS n_docs,
           array_to_string(list_sort(list(id)), ' ') AS doc_ids
    FROM lab GROUP BY cluster_id ORDER BY cluster_id
  """.trim)
}

/** Q42 — the end-to-end corpus-cleaning pass, composed from the
  * engine's own operators the way a 100 TB training-data pipeline
  * would run them: near-duplicate removal (q18f's resolved clusters —
  * a member that is not its cluster's keeper is dropped), quality
  * floor (q22's decimal-free score), and a minimum-length gate
  * (token count), plus q47's repetition gate (top-bigram share) and
  * q49's cross-document boilerplate gate (shared-paragraph share),
  * with a per-document drop reason under a fixed precedence
  * (duplicate → too_short → repetitive → boilerplate → low_quality).
  * Emitted as the per-(lang, status) audit table a pipeline owner
  * actually reads. Dataflow: the derived frames join the base table
  * on doc_id — the expensive passes (shingles, closure, scoring,
  * line-sharing) each read the corpus once; nothing is recomputed per
  * filter. */
object Q42CorpusClean extends GraftQuery {
  val name = "q42_corpus_clean"
  private[graft] val MinTokens = 15
  private[queries] val MinQuality = 0.46
  /** The audit table. `withContamination` (q42b) inserts q46b's
    * DF-capped decontamination verdict as a drop reason directly
    * after `duplicate` — a leaked eval doc must leave the training
    * set no matter how clean it looks, while the dup gate stays first
    * so the audit attributes each doc to the cheapest reason that
    * already condemns it. Dataflow is unchanged: one more derived
    * frame (train-split verdicts) joined on doc_id. */
  private[queries] def audit(spark: SparkSession, dir: String,
      withContamination: Boolean): DataFrame =
    statusByDoc(spark, dir, withContamination)
      .groupBy(col("lang"), col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("status"))

  /** The per-doc verdict frame the audit aggregates — exposed so the
    * assembly tail (q58) can take exactly the docs the audit keeps. */
  private[graft] def statusByDoc(spark: SparkSession, dir: String,
      withContamination: Boolean): DataFrame = {
    // The dup gate reads the PERSISTED labels store (q18g) — the
    // closure is computed once per corpus snapshot, not once per
    // consumer (q42, q42b, and q58 all flow through here; before the
    // store each re-ran the full pair+closure pipeline). Round13Spec
    // plan-asserts this frame is a bucketed store scan.
    val victims = Q18gDedupLabelsStore.labels(spark, dir)
      .filter(col("id") =!= col("lbl"))
      .select(col("id").as("doc_id"), lit(true).as("is_dup"))
    val scored = Q22QualityScore.scored(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val rep = Q47Repetition.signals(spark, dir)
      .select(col("doc_id"), col("top_share"))
    val xdoc = Q49CrossDocParagraphs.signals(spark, dir)
      .select(col("doc_id"), col("shared_line_frac"))
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(victims, Seq("doc_id"), "left")
      .join(scored, Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"), "left")
      .join(xdoc, Seq("doc_id"), "left")
    val joined =
      if (!withContamination) base
      else base.join(
        Q46Decontaminate
          .verdicts(spark, dir, Q46bDecontaminateDfCap.cappedGrams(spark, dir))
          .filter(col("verdict") === "contaminated")
          .select(col("train_doc_id").as("doc_id"), lit(true).as("is_contam")),
        Seq("doc_id"), "left")
    val afterDup = when(col("is_dup"), lit("duplicate"))
    val chain =
      if (withContamination) afterDup.when(col("is_contam"), lit("contaminated"))
      else afterDup
    joined
      .withColumn("status",
        chain
          .when(coalesce(col("n_tokens"), lit(0)) < MinTokens, lit("too_short"))
          .when(col("top_share") > Q47Repetition.MaxTopBigramShare,
            lit("repetitive"))
          .when(col("shared_line_frac") > Q49CrossDocParagraphs.MaxSharedFrac,
            lit("boilerplate"))
          .when(col("quality") < MinQuality, lit("low_quality"))
          .otherwise(lit("kept")))
      .select(col("doc_id"), col("lang"), col("status"))
  }
  def run(spark: SparkSession, dir: String): DataFrame =
    audit(spark, dir, withContamination = false)
  /** The full WITH chain ending in `tagged(doc_id, lang, status)` —
    * the SQL mirror of [[statusByDoc]], shared by q42/q42b's audits
    * and the q58 assembly tail. */
  private[queries] def duckTaggedCtes(withContamination: Boolean): String = {
    val contamCtes = if (!withContamination) "" else s""",
    ${Q46Decontaminate.duckDecontamCtes(Some(Q46bDecontaminateDfCap.MaxGramDf))},
    contam AS (SELECT train_doc_id AS doc_id FROM cbest
               WHERE rk = 1 AND n >= ${Q46Decontaminate.MinShared})"""
    val contamJoin =
      if (withContamination) "LEFT JOIN contam c ON d.doc_id = c.doc_id" else ""
    val contamCase =
      if (withContamination) "WHEN c.doc_id IS NOT NULL THEN 'contaminated'"
      else ""
    s"""WITH RECURSIVE ${NorthStar.duckShingleCtes},
    ${NorthStar.duckMinhashPairCtes},
    ${NorthStar.duckNgramPairCtes},
    ${NorthStar.duckClosureCtes},
    victims AS (SELECT id AS doc_id FROM lab WHERE id <> cluster_id),
    ${NorthStar.duckQualityCtes},
    ${NorthStar.duckRepetitionCtes},
    ${NorthStar.duckCrossDocCtes}$contamCtes,
    tagged AS (
      SELECT d.doc_id, d.lang,
        CASE WHEN v.doc_id IS NOT NULL THEN 'duplicate'
             $contamCase
             WHEN COALESCE(qq.n_tokens, 0) < $MinTokens THEN 'too_short'
             WHEN r.top_share > ${Q47Repetition.MaxTopBigramShare} THEN 'repetitive'
             WHEN x.shared_line_frac > ${Q49CrossDocParagraphs.MaxSharedFrac}
               THEN 'boilerplate'
             WHEN qq.quality < $MinQuality THEN 'low_quality'
             ELSE 'kept' END AS status
      FROM documents d
      LEFT JOIN victims v ON d.doc_id = v.doc_id
      LEFT JOIN qq ON d.doc_id = qq.doc_id
      LEFT JOIN rep r ON d.doc_id = r.doc_id
      LEFT JOIN xdoc x ON d.doc_id = x.doc_id
      $contamJoin)"""
  }

  private[queries] def oracleSqlFor(withContamination: Boolean): String =
    s"""
    ${duckTaggedCtes(withContamination)}
    SELECT lang, status, count(*) AS n
    FROM tagged GROUP BY lang, status ORDER BY lang, status
    """.trim
  val oracle = Some(oracleSqlFor(withContamination = false))
}

/** Q42b — the FULL composed cleaning pass: q42's gates plus q46b's
  * DF-capped eval-set decontamination (`contaminated` outranks every
  * verdict except `duplicate`). This is the audit a pretraining
  * pipeline owner actually ships: dedup, leakage, length, repetition,
  * cross-doc boilerplate, and quality in one pass, every expensive
  * signal reading the corpus once and joining on doc_id. */
object Q42bCorpusCleanFull extends GraftQuery {
  val name = "q42b_corpus_clean_full"
  def run(spark: SparkSession, dir: String): DataFrame =
    Q42CorpusClean.audit(spark, dir, withContamination = true)
  val oracle = Some(Q42CorpusClean.oracleSqlFor(withContamination = true))
}

/** Q18c — SimHash near-dup: 64-bit signature from ONE md5 per distinct
  * token (the first 16 hex chars supply 64 bit-votes), stored as 4 ×
  * 16-bit chunks. Candidates block on (chunk index, chunk value) —
  * 65,536 buckets per chunk, so any pair at Hamming distance ≤ 3
  * shares a chunk (pigeonhole) while the bucket fanout stays
  * near-linear at 100 TB (round 1's 16-bit/4-bit layout was
  * O(n²/16)). Verified by summed bit_count(xor) over the chunks. */
object Q18cDedupSimHash extends GraftQuery {
  import NorthStar._
  val name = "q18c_dedup_simhash"
  def run(spark: SparkSession, dir: String): DataFrame = {
    // Signature stage as explode + 64 flat codegen'd conditional sums:
    // each distinct token becomes a row carrying its md5's two 32-bit
    // halves, and the per-bit vote counts are 64 IF-sums in ONE
    // whole-stage-codegen'd hash aggregation with map-side partial
    // combine (round 3 computed the votes with nested interpreted
    // HOFs — 64 filter passes over the token array per doc; measured
    // 2.3 s → 1.65 s at sf0.1, bit-identical chunks). The groupBy's
    // exchange doubles as the DAG-reuse barrier the old code bought
    // with an explicit repartition: downstream references the flat
    // chunk columns 8×, and an aggregation output is a real
    // materialization point.
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(s"array_distinct($toksExpr)")).as("tok"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)").as("hi"),
        expr("cast(conv(substring(md5(tok), 9, 8), 16, 10) as bigint)").as("lo"))
    // bit i lives in hex char (i div 4) (chars 0-7 in hi, 8-15 in lo),
    // at bit (i mod 4) of that char's value; a char sits 4*(7-pos) or
    // 4*(15-pos) bits from its half's LSB.
    val bitCols = (0 until 64).map { i =>
      val charIdx = i / 4
      val bit = i % 4
      val src = if (charIdx < 8) "hi" else "lo"
      val shift = 4 * (if (charIdx < 8) 7 - charIdx else 15 - charIdx) + bit
      expr(s"sum(IF((shiftright($src, $shift) & 1) = 1, 1, 0))").as(s"b$i")
    }
    val votes = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), bitCols: _*)
    // majority vote per bit -> four flat 16-bit chunk columns; the
    // per-pair Hamming distance below is then pure codegen'd
    // bit_count/xor arithmetic (the fixture corpus is heavily
    // clustered — one chunk bucket holds 1/3 of the docs, so the
    // verify stage runs over millions of candidate pairs; an
    // interpreted HOF there cost 16 s at sf0.1).
    val chunkCols = (0 until 4).map { j =>
      val terms = (0 until 16).map(k =>
        s"IF(2 * b${16 * j + k} > n, cast(${1L << k} as bigint), cast(0 as bigint))")
        .mkString(" + ")
      expr(terms).as(s"c$j")
    }
    val flat = votes.select(col("doc_id") +: chunkCols: _*)
    val chunks = flat
      .select(col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        posexplode(array(col("c0"), col("c1"), col("c2"), col("c3"))).as(Seq("j", "cv")))
      .select(col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        concat_ws("|", col("j"), col("cv")).as("ckey"))
    chunks.as("a")
      .join(chunks.as("b"), col("a.ckey") === col("b.ckey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.c0 ^ b.c0) + bit_count(a.c1 ^ b.c1) + " +
          "bit_count(a.c2 ^ b.c2) + bit_count(a.c3 ^ b.c3)")
          .cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }
  val oracle = Some(s"""
    WITH toks AS (SELECT doc_id, list_distinct($duckToks) AS t FROM documents),
    hx AS (SELECT doc_id, len(t) AS n, list_transform(t, tok -> substr(md5(tok), 1, 16)) AS hx
           FROM toks WHERE len(t) > 0),
    hits AS (SELECT doc_id, n, list_transform(range(0, 64),
             i -> len(list_filter(hx, h ->
               (((strpos('0123456789abcdef', substr(h, CAST(i // 4 AS INT) + 1, 1)) - 1) >> (i % 4)) & 1) = 1))) AS hits
             FROM hx),
    sigs AS (SELECT doc_id, list_transform(range(0, 4), j -> CAST(list_aggregate(list_transform(range(0, 16),
             k -> CASE WHEN 2 * hits[16*j+k+1] > n THEN CAST(1 << k AS BIGINT) ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT)) AS chunks
             FROM hits),
    chunks AS (SELECT doc_id, chunks, CAST(j AS VARCHAR) || '|' || CAST(chunks[j+1] AS VARCHAR) AS ckey
               FROM sigs, unnest(range(0, 4)) AS u(j))
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(list_aggregate(list_transform(range(0, 4), j -> bit_count(xor(a.chunks[j+1], b.chunks[j+1]))), 'sum') AS INT) AS hamming
    FROM chunks a JOIN chunks b ON a.ckey = b.ckey AND a.doc_id < b.doc_id
    WHERE CAST(list_aggregate(list_transform(range(0, 4), j -> bit_count(xor(a.chunks[j+1], b.chunks[j+1]))), 'sum') AS INT) <= 3
    ORDER BY doc_a, doc_b
  """.trim)
}

/** Q18d — exact n-gram (word 3-shingle) Jaccard join with PREFIX
  * FILTERING: for J ≥ 0.8, two shingle sets must share an element in
  * the first n - ceil(0.8n) + 1 shingles when every doc's shingles
  * are ordered by (global df asc, shingle asc) — the rarest-first
  * prefix. Candidates come only from prefix matches (provably no
  * false negatives), then exact Jaccard verifies. This is the
  * scalable exact-similarity-join topology (PPJoin family): no O(n²)
  * pair scan, and the join keys are globally-rare shingles so bucket
  * fanout stays tiny at 100 TB. */
object Q18dDedupNgram extends GraftQuery {
  import NorthStar._
  val name = "q18d_dedup_ngram"
  def run(spark: SparkSession, dir: String): DataFrame =
    pairsFrom(shingleSets(spark, dir)).orderBy(col("doc_a"), col("doc_b"))
  /** Verified pairs WITHOUT the final sort, over a caller-chosen
    * shingle frame — q18f consumes these. */
  private[queries] def pairsFrom(sh: DataFrame): DataFrame =
    pairsFrom(sh, materializePrefix = false)

  /** `materializePrefix`: localCheckpoint the (tiny — ~n/5 grams per
    * doc) prefix frame so the df-count/join/window shuffles behind it
    * become garbage before the candidate self-join runs. OFF in
    * production (one job = full pipeline parallelism; a cluster's
    * aggregate shuffle disk holds the overlap); ON in the single-box
    * decade probe, where the phase's transient sort spills are the
    * binding disk constraint (round-13 BASELINE). */
  private[queries] def pairsFrom(sh: DataFrame,
      materializePrefix: Boolean): DataFrame =
    pairsFrom(sh, materializePrefix, prefixSweeps = 1)

  /** `prefixSweeps` (round 14 — the staged partition sweep VERDICT
    * r13 #6 called for): compute the prefix in S doc_id-residue
    * sweeps, each checkpointed and its join/window shuffle files
    * released before the next starts. The rarity join + per-doc
    * window over the full gram stream is the n-gram phase's largest
    * transient (~25 GB of shuffle+sort at 5M docs) and it all
    * coexists within one job; sweeping divides the peak by S at the
    * cost of S passes over the (cached) shingle frame and one extra
    * gdf checkpoint. 1 in production — a cluster's aggregate disk
    * holds the one-job overlap; >1 only in the single-box decade
    * probe. Results are sweep-invariant: gdf is computed GLOBALLY
    * before any sweep, and the per-doc window never crosses docs. */
  private[queries] def pairsFrom(sh: DataFrame,
      materializePrefix: Boolean, prefixSweeps: Int): DataFrame =
    pairsFrom(sh, materializePrefix, prefixSweeps, verifySweeps = 1)

  /** `verifySweeps`: stage the VERIFY by doc_a residue the same way —
    * the verify's wide intermediate (candidates with gram arrays
    * attached, sorted for the second join) is the n-gram phase's
    * OTHER large transient; sweeping divides it by S. 1 in
    * production; >1 only in the single-box decade probe. Verification
    * is pure per pair, so any partition of the candidate set verifies
    * to identical output. */
  private[queries] def pairsFrom(sh: DataFrame,
      materializePrefix: Boolean, prefixSweeps: Int,
      verifySweeps: Int): DataFrame = {
    // The candidate stage runs on 64-BIT GRAM HASHES, not gram
    // strings: three corpus-token-scale shuffles (the df count, the
    // per-doc rarity window, the prefix self-join) carry 8-byte longs
    // instead of ~60-byte shingle text — measured as the difference
    // between the 1000×-decade point exhausting local shuffle disk
    // and completing (round-13 BASELINE; the MinHash branch already
    // hashed pre-shuffle, this aligns the n-gram branch). Sound by
    // the PPJoin prefix lemma: ANY fixed global token order admits
    // the same guarantee — (hash-df, hash) is such an order — and a
    // hash collision only MERGES two grams' df counts / candidate
    // buckets, i.e. only ADDS candidates; the exact string-set
    // intersection below remains the arbiter, so the verified output
    // is unchanged (the DuckDB oracle keeps the string-order
    // heuristic and must still hash-match).
    val ex = sh.select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("g"))
      .select(col("doc_id"), col("n"), xxhash64(col("g")).as("gh"))
    val gdf0 = ex.groupBy(col("gh")).agg(count(lit(1)).as("gdf"))
    // Sweeping requires the GLOBAL df table pinned once (each sweep
    // joins it; recomputing it per sweep would be S corpus passes).
    val gdf = if (prefixSweeps > 1) {
      val g = gdf0.localCheckpoint(true); System.gc(); g
    } else gdf0
    val w = Window.partitionBy(col("doc_id")).orderBy(col("gdf"), col("gh"))
    def slice(s: Int): DataFrame = {
      val exS = if (prefixSweeps > 1)
        ex.filter(pmod(col("doc_id"), lit(prefixSweeps)) === s)
      else ex
      exS.join(gdf, "gh")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("n") - expr("(4*n + 4) div 5") + 1)
        .select(col("doc_id"), col("gh"))
    }
    val prefix =
      if (prefixSweeps > 1)
        (0 until prefixSweeps).map { s =>
          val p = slice(s).localCheckpoint(true); System.gc(); p
        }.reduce(_ unionByName _)
      else if (materializePrefix) { val p = slice(0).localCheckpoint(true)
        System.gc(); p }
      else slice(0)
    val cand0 = prefix.as("a")
      .join(prefix.as("b"), col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val cand = if (verifySweeps > 1) {
      val c = cand0.localCheckpoint(true); System.gc(); c
    } else cand0
    // VERIFY (restructured round 14 — the round-13 1000×-decade wall):
    //  - the PPJoin LENGTH filter (J ≥ 0.8 ⇒ 5|A| ≥ 4|B| both ways)
    //    runs on NARROW size columns BEFORE any gram array attaches —
    //    previously the arrays rode every candidate through both
    //    verify joins and the second join's sort spilled array-width ×
    //    |candidates| (~95 GB at 5M docs: 119M candidates, measured
    //    37% length-filter survival at the 100× decade);
    //  - the intersection runs on 64-bit HASHED gram sets (the same
    //    xxhash64 the candidate stage keys by), ~8× narrower than the
    //    ~60-byte gram strings. Soundness: the hashed intersection
    //    equals the string intersection unless two DISTINCT grams of
    //    one pair collide in 64 bits — p ≈ |pair union|²/2⁶⁵ ≈ 10⁻¹⁶
    //    per pair — and a flip would surface loudly as an oracle hash
    //    mismatch (the DuckDB side keeps exact string intersection).
    // A candidate-doc semi-filter was evaluated here and REJECTED: on
    // near-dup-heavy corpora the candidate doc set IS the corpus
    // (measured 97% at the 100× decade) and its broadcast build is a
    // driver hazard.
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val hashed = sh.select(col("doc_id"),
      expr("transform(sh, s_ -> xxhash64(s_))").as("hsh"))
    def verified(c: DataFrame): DataFrame =
      c.join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
          Seq("doc_b"))
        .filter(col("na") * 5 >= col("nb") * 4 && col("nb") * 5 >= col("na") * 4)
        .join(hashed.select(col("doc_id").as("doc_a"), col("hsh").as("sha")),
          Seq("doc_a"))
        .join(hashed.select(col("doc_id").as("doc_b"), col("hsh").as("shb")),
          Seq("doc_b"))
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
        .select(col("doc_a"), col("doc_b"),
          (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
    if (verifySweeps > 1)
      (0 until verifySweeps).map { s =>
        val v = verified(cand.filter(pmod(col("doc_a"), lit(verifySweeps)) === s))
          .localCheckpoint(true)
        System.gc(); v
      }.reduce(_ unionByName _)
    else verified(cand)
  }
  val oracle = Some(s"""
    WITH ${NorthStar.duckShingleCtes},
    ${NorthStar.duckNgramPairCtes}
    SELECT doc_a, doc_b, jaccard FROM jpairs ORDER BY doc_a, doc_b
  """.trim)
}

/** Q18e — embedding-cosine near-dup: block on the sign pattern of the
  * first 16 dimensions (65,536 random-hyperplane-style buckets — near
  * dups agree on all sign bits, random pairs collide with p ≈ 2⁻¹⁶,
  * so candidate generation is near-linear at 100 TB; round 1's 4-bit
  * key was O(n²/16)). Exact cosine verifies each candidate with a
  * per-row left-fold dot product — IEEE doubles added in identical
  * element order are bit-equal across engines, and nothing is
  * exploded through a shuffle. */
object Q18eDedupEmbedding extends GraftQuery {
  val name = "q18e_dedup_embedding"
  /** Embedding dimension — fixed by the fixture schema (FIXTURES.md:
    * `embedding ARRAY<FLOAT>` dim 64); at scale the dimension is
    * likewise known at plan time, so the per-pair arithmetic can be a
    * flat codegen'd expression instead of an interpreted HOF. */
  private val bucketExpr =
    "concat_ws('', transform(slice(embedding, 1, 16), x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END))"
  private val n2Expr = NorthStar.embNorm2Expr
  private val dotExpr = NorthStar.flatDotExpr("ea", "eb")
  /** The blocked (va < vb, cosine >= 0.2) candidate-cosine frame,
    * pre-sort — shared with the hard-negative miner (q76b). */
  private[graft] def cosPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val n2 = e.select(col("vec_id"), expr(n2Expr).as("n2"))
    val b = e.select(col("vec_id"), col("embedding"), expr(bucketExpr).as("bucket"))
    val cand = b.select(col("vec_id").as("va"), col("embedding").as("ea"), col("bucket"))
      .join(b.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("bucket")), "bucket")
      .filter(col("va") < col("vb"))
    cand.select(col("va"), col("vb"), expr(dotExpr).as("dot"))
      .join(n2.select(col("vec_id").as("va"), col("n2").as("n2a")), "va")
      .join(n2.select(col("vec_id").as("vb"), col("n2").as("n2b")), "vb")
      .select(col("va").as("vec_a"), col("vb").as("vec_b"),
        (col("dot") / (sqrt(col("n2a")) * sqrt(col("n2b")))).as("cosine"))
      .filter(col("cosine") >= 0.2)
  }
  def run(spark: SparkSession, dir: String): DataFrame =
    cosPairs(spark, dir).orderBy(col("vec_a"), col("vec_b"))
  /** DuckDB CTE chain ending in `cos(vec_a, vec_b, cosine)` (blocked,
    * unthresholded) — shared by q18e's and q76b's oracles. */
  private[queries] val duckEmbCosCtes = s"""b AS (SELECT vec_id, embedding,
          array_to_string(list_transform(embedding[1:16], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
        FROM embeddings),
    n2 AS (SELECT vec_id, list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
           (acc, p) -> acc + p) AS n2 FROM b),
    cand AS (SELECT a.vec_id AS va, a.embedding AS ea, bd.vec_id AS vb, bd.embedding AS eb
             FROM b a JOIN b bd ON a.bucket = bd.bucket AND a.vec_id < bd.vec_id),
    dots AS (SELECT va, vb, list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(range(1, len(ea)+1), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))),
             (acc, p) -> acc + p) AS dot FROM cand),
    cos AS (SELECT va AS vec_a, vb AS vec_b, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
            FROM dots JOIN n2 na ON na.vec_id = va JOIN n2 nb ON nb.vec_id = vb)"""
  val oracle = Some(s"""
    WITH $duckEmbCosCtes
    SELECT vec_a, vec_b, cosine FROM cos WHERE cosine >= 0.2
    ORDER BY vec_a, vec_b
  """.trim)
}

/** Q19 — exact cosine top-k against the query vector (vec_id = 0).
  * Distributed shape: explode elements once, broadcast the 64-row
  * query vector, partial-sum products per vec — a single narrow pass
  * + one groupBy; TakeOrderedAndProject handles the top-k without a
  * global sort. This is the brute-force baseline; Q19b is the
  * bucketed scale path. */
object Q19SimilarityTopK extends GraftQuery {
  import NorthStar._
  val name = "q19_similarity_topk"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val ex = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), dec(col("x")).as("x"))
    val q = ex.filter(col("vec_id") === 0)
      .select(col("pos"), col("x").as("qx"))
    val qn2 = q.agg(sum(col("qx") * col("qx")).as("qn2"))
    ex.filter(col("vec_id") =!= 0)
      .join(broadcast(q), "pos")
      .groupBy(col("vec_id"))
      .agg(sum(col("x") * col("qx")).as("dot"), sum(col("x") * col("x")).as("n2"))
      .crossJoin(broadcast(qn2))
      .select(col("vec_id"),
        (col("dot").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("qn2").cast("double")))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(10)
  }
  private def d(x: String) = NorthStar.duckDec(x)
  val oracle = Some(s"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    c AS (SELECT vec_id,
      list_aggregate(list_transform(range(1, len(embedding)+1), i -> ${d("embedding[i]")} * ${d("qv[i]")}), 'sum') AS dot,
      list_aggregate(list_transform(range(1, len(embedding)+1), i -> ${d("embedding[i]")} * ${d("embedding[i]")}), 'sum') AS n2,
      list_aggregate(list_transform(range(1, len(qv)+1), i -> ${d("qv[i]")} * ${d("qv[i]")}), 'sum') AS qn2
      FROM embeddings, q WHERE vec_id <> 0)
    SELECT vec_id, ${NorthStar.duckDbl("dot")} / (sqrt(${NorthStar.duckDbl("n2")}) * sqrt(${NorthStar.duckDbl("qn2")})) AS cosine
    FROM c ORDER BY cosine DESC, vec_id ASC LIMIT 10
  """.trim)
}

/** Q19h — exact cosine top-k over a DRIVER-PROVIDED QUERY BATCH
  * (VERDICT r14 next #5, the ANN side of the q74f rule): a similarity
  * service receives query vectors as DATA — a (query_id, qv) table
  * from the query encoder — not one compile-time probe. [[topKFor]]
  * accepts exactly that frame: the batch posexplodes into a broadcast
  * (query_id, pos, qx) join against one corpus embedding pass
  * (map-side ×|Q| multiply — linear in corpus for a bounded batch,
  * q75's semantic-arm shape), DECIMAL-exact dot/norm sums, and a
  * per-query ranking window. Candidates sharing the query's id are
  * excluded (the self-exclusion rule when queries are drawn from the
  * corpus; external vectors carry non-colliding ids and lose
  * nothing). The entry drives a 3-vector batch drawn from the fixture
  * embeddings; the oracle replays it — hash-green, like q19. */
object Q19hAnnQueryBatch extends GraftQuery {
  import NorthStar._
  val name = "q19h_ann_query_batch"

  /** The batch this entry replays — disjoint from q19's probe (0)
    * and q75's probe ids. */
  private[graft] val batchVecIds = Seq(5L, 17L, 42L)

  /** Exact top-k per query over `embs` for a caller-provided
    * (query_id, qv) batch. */
  private[graft] def topKFor(spark: SparkSession, embs: DataFrame,
      queries: DataFrame, k: Int = 10): DataFrame = {
    val ex = embs
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), dec(col("x")).as("x"))
    val probes = queries
      .select(col("query_id"), posexplode(col("qv")).as(Seq("pos", "qx")))
      .select(col("query_id"), col("pos"), dec(col("qx")).as("qx"))
    val qn2 = probes.groupBy(col("query_id"))
      .agg(sum(col("qx") * col("qx")).as("qn2"))
    val scored = ex.join(broadcast(probes), Seq("pos"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("x") * col("qx")).as("dot"),
        sum(col("x") * col("x")).as("n2"))
      .join(broadcast(qn2), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        (col("dot").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("qn2").cast("double"))))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    val queries = embs.filter(col("vec_id").isin(batchVecIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    topKFor(spark, embs, queries)
  }

  private def d(x: String) = NorthStar.duckDec(x)
  val oracle = Some(s"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id IN (${batchVecIds.mkString(", ")})),
    c AS (SELECT q.query_id, e.vec_id,
      list_aggregate(list_transform(range(1, len(e.embedding)+1), i -> ${d("e.embedding[i]")} * ${d("q.qv[i]")}), 'sum') AS dot,
      list_aggregate(list_transform(range(1, len(e.embedding)+1), i -> ${d("e.embedding[i]")} * ${d("e.embedding[i]")}), 'sum') AS n2,
      list_aggregate(list_transform(range(1, len(q.qv)+1), i -> ${d("q.qv[i]")} * ${d("q.qv[i]")}), 'sum') AS qn2
      FROM embeddings e, q WHERE e.vec_id <> q.query_id),
    s AS (SELECT query_id, vec_id,
            ${NorthStar.duckDbl("dot")} / (sqrt(${NorthStar.duckDbl("n2")}) * sqrt(${NorthStar.duckDbl("qn2")})) AS cosine
          FROM c),
    r AS (SELECT query_id, vec_id, cosine,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
          FROM s)
    SELECT query_id, rank, vec_id, cosine
    FROM r WHERE rank <= 10 ORDER BY query_id, rank
  """.trim)
}

/** Q19b — LSH-bucketed ANN: candidates are vectors whose 8-dim sign
  * signature equals the query's (1/256 selectivity on random data),
  * then exact cosine top-k among candidates only. At 100 TB the
  * bucket filter prunes the scan to ~n/256 before any arithmetic;
  * the signature is computable at write time as a partition column. */
object Q19bAnnLsh extends GraftQuery {
  import NorthStar._
  val name = "q19b_ann_lsh"
  private val sigExpr =
    "concat_ws('', transform(slice(embedding, 1, 8), x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END))"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"), expr(sigExpr).as("sig"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("sig"), col("embedding").as("qv"))
    val cand = e.filter(col("vec_id") =!= 0).join(broadcast(q), "sig")
    val prods = cand.select(col("vec_id"),
      explode(zip_with(col("embedding"), col("qv"), (x, y) => dec(x) * dec(y))).as("p"))
    prods
      .groupBy(col("vec_id"))
      .agg(sum(col("p")).as("dot"))
      .join(cand.select(col("vec_id"), explode(col("embedding")).as("x"))
        .groupBy(col("vec_id")).agg(sum(dec(col("x")) * dec(col("x"))).as("n2")), "vec_id")
      .crossJoin(broadcast(q.select(explode(col("qv")).as("qx"))
        .agg(sum(dec(col("qx")) * dec(col("qx"))).as("qn2"))))
      .select(col("vec_id"),
        (col("dot").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("qn2").cast("double")))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(10)
  }
  private def d(x: String) = NorthStar.duckDec(x)
  val oracle = Some(s"""
    WITH e AS (SELECT vec_id, embedding,
          array_to_string(list_transform(embedding[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS sig
        FROM embeddings),
    q AS (SELECT sig, embedding AS qv FROM e WHERE vec_id = 0),
    c AS (SELECT e.vec_id,
      list_aggregate(list_transform(range(1, len(embedding)+1), i -> ${d("embedding[i]")} * ${d("qv[i]")}), 'sum') AS dot,
      list_aggregate(list_transform(range(1, len(embedding)+1), i -> ${d("embedding[i]")} * ${d("embedding[i]")}), 'sum') AS n2,
      list_aggregate(list_transform(range(1, len(qv)+1), i -> ${d("qv[i]")} * ${d("qv[i]")}), 'sum') AS qn2
      FROM e JOIN q ON e.sig = q.sig WHERE e.vec_id <> 0)
    SELECT vec_id, ${NorthStar.duckDbl("dot")} / (sqrt(${NorthStar.duckDbl("n2")}) * sqrt(${NorthStar.duckDbl("qn2")})) AS cosine
    FROM c ORDER BY cosine DESC, vec_id ASC LIMIT 10
  """.trim)
}

/** Q19c — the 100 TB ANN path on the PUBLIC spark.ml API (SURVEY
  * §4.2): BucketedRandomProjectionLSH (p-stable Euclidean LSH, seeded
  * → deterministic) over the embeddings, approxNearestNeighbors for
  * the query vector. The only driver-side value is the single query
  * key — everything else is a bucketed distributed scan. Hash-oracle
  * is impossible (the hyperplanes live in the JVM model, not SQL), so
  * the driver records rows-only; AnnSparkMlSpec pins determinism and
  * recall against the exact Q19 baseline. */
object Q19cAnnSparkMl extends GraftQuery {
  val name = "q19c_ann_sparkml"
  def run(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.array_to_vector
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(2.0).setNumHashTables(4).setSeed(42)
      .setInputCol("features").setOutputCol("hashes")
    val model = lsh.fit(e)
    val key = e.filter(col("vec_id") === 0)
      .head().getAs[org.apache.spark.ml.linalg.Vector]("features")
    model.approxNearestNeighbors(e.filter(col("vec_id") =!= 0), key, 10)
      .select(col("vec_id"), round(col("distCol"), 4).as("euclid_dist"))
      .orderBy(col("euclid_dist"), col("vec_id"))
  }
  val oracle = None
}

/** Q19d — IVF (inverted-file) ANN, the third scale path next to the
  * sign-signature buckets (q19b) and spark.ml LSH (q19c): a seeded
  * spark.ml KMeans is the coarse quantizer, every vector is assigned
  * to its nearest centroid (the "inverted lists" — at scale a
  * write-time partition column), and the query probes only the
  * nProbe nearest lists, computing exact cosine within them. Scan
  * cost ≈ n·(nProbe/k) instead of n; the only driver-side values are
  * the O(1) query row and the k-row centroid table. The per-candidate
  * dot product runs through the same decimal explode+broadcast shape
  * as q19, so results are deterministic. HASH-checked since round 16
  * via the q19f snapshot bridge (the fit's ASSIGNMENTS are rows even
  * though the KMeans iterations aren't SQL): run() pins the probed
  * ids + fitted membership and the oracle replays candidates + exact
  * cosines; AnnIvfSpec keeps the determinism and recall-vs-exact
  * gates. */
object Q19dAnnIvf extends GraftQuery {
  import NorthStar._
  val name = "q19d_ann_ivf"
  private[graft] val K = 16
  private[graft] val NProbe = 4
  /** Partitions of the k-means fit input. A constant, not the scan
    * spread (`max(4, cores / 4)`): k-means|| seeds per partition
    * index, so a core-derived count fits different centroids on
    * different hosts (the q19g rule). */
  private val FitPartitions = 4

  /** The canonical k-means input over an embeddings frame — (vec_id,
    * embedding, features) in a layout that is a pure function of the
    * data: a keyed repartition to [[FitPartitions]] plus an
    * in-partition sort, checkpointed. Shared by q19d's fit and q19e's
    * store build, so the two tiers fit the same quantizer. */
  private[graft] def fitInput(emb: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    emb.repartition(FitPartitions, col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        array_to_vector(col("embedding").cast("array<double>")).as("features"))
      .localCheckpoint()
  }

  /** Snapshot dirs (probed list ids, fitted membership) of the last
    * [[run]] — the q19f/q19e oracle bridge applied to the RECOMPUTE
    * tier: the in-JVM KMeans fit isn't replayable, but its
    * assignments are rows, and given them the candidate set and the
    * exact cosines are relational. Paths are fingerprint-keyed
    * ([[graft.plans.Stores.snapPath]], ADVICE r16) and the registry
    * is keyed by corpus dir (VERDICT r17 #5): interleaved runs over
    * different corpora each pair with their OWN snapshot
    * ([[oracleFor]]); `oracle` serves the last completed run — the
    * Verify dump-after-run contract. */
  private val snapshot = new graft.plans.SnapRegistry[(String, String)]

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (assigned, probe) = fitProbe(spark, dir, NProbe)
    val (probeSnap, memSnap) =
      (graft.plans.Stores.snapPath(spark, "graft_q19d_probe_snap", dir,
        Seq("embeddings.parquet")),
        graft.plans.Stores.snapPath(spark, "graft_q19d_mem_snap", dir,
          Seq("embeddings.parquet")))
    probe.toDF("list_id").repartition(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(probeSnap)
    assigned.select(col("list_id").cast("int").as("list_id"), col("vec_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(memSnap)
    snapshot.put(dir, (probeSnap, memSnap))
    val cand = assigned
      .filter(col("vec_id") =!= 0 && col("list_id").isin(probe: _*))
    exactCosineTopK(spark, dir, cand)
  }

  /** One seeded fit: (assigned frame, probed list ids) — ONE
    * definition shared by the probe-curve tier ([[ivf]]) and the
    * snapshotting entry ([[run]]), so the fit/probe semantics cannot
    * fork (the round-16 review rule). The assignment is checkpointed:
    * it feeds the query-row read, the candidate scan, and (in run)
    * the membership snapshot. */
  private def fitProbe(spark: SparkSession, dir: String,
      nProbe: Int): (DataFrame, Seq[Int]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val e = fitInput(Tables.embeddings(spark, dir))
    val model = new KMeans().setK(K).setSeed(42).setMaxIter(20)
      .setFeaturesCol("features").setPredictionCol("list_id").fit(e)
    val assigned = model.transform(e).localCheckpoint(true)
    val qVec = assigned.filter(col("vec_id") === 0)
      .head().getAs[Vector]("features") // O(1) driver value: the query key
    val probe = model.clusterCenters.zipWithIndex // k rows on the driver
      .map { case (c, i) => (i, Vectors.sqdist(c, qVec)) }
      .sortBy { case (lid, d2) => (d2, lid) }.take(nProbe).map(_._1).toSeq
    (assigned, probe)
  }

  /** HASH oracle over the snapshot — q19e's replay verbatim (shared
    * builder): candidate membership from the pinned (probe, fitted
    * membership) join, exact decimal cosines over the source table. */
  def oracle: Option[String] = snapshot.latest.map(bridge)
  /** The same oracle paired with a SPECIFIC dir's run (VERDICT r17
    * #5 — interleaved corpora each read their own snapshot). */
  private[graft] def oracleFor(dir: String): Option[String] =
    snapshot.forDir(dir).map(bridge)
  private def bridge(v: (String, String)): String =
    Q19eAnnIvfStore.duckIvfOracle(v._1, v._2)

  /** The probe knob exposed: scan cost ≈ n·(nProbe/K) against recall.
    * AnnIvfSpec measures the recall/latency curve at 2/4/8/16 probes
    * (monotone by construction under a fixed seed: more probes only
    * ever ADD candidate lists) — the 100 TB operating trade-off is
    * picked there, not guessed. */
  private[graft] def ivf(spark: SparkSession, dir: String, nProbe: Int): DataFrame = {
    val (assigned, probe) = fitProbe(spark, dir, nProbe)
    val cand = assigned
      .filter(col("vec_id") =!= 0 && col("list_id").isin(probe: _*))
    exactCosineTopK(spark, dir, cand)
  }

  /** Exact decimal cosine + top-10 over a candidate frame, against
    * the vec-0 query — the q19 arithmetic shared verbatim by the
    * recompute (q19d) and persisted-store (q19e) tiers, so their
    * row-identity spec gates the STORE, never the math. */
  private[graft] def exactCosineTopK(spark: SparkSession, dir: String,
      cand: DataFrame): DataFrame = {
    val ex = cand.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), dec(col("x")).as("x"))
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(posexplode(col("embedding")).as(Seq("pos", "qx")))
      .select(col("pos"), dec(col("qx")).as("qx"))
    val qn2 = q.agg(sum(col("qx") * col("qx")).as("qn2"))
    ex.join(broadcast(q), "pos")
      .groupBy(col("vec_id"))
      .agg(sum(col("x") * col("qx")).as("dot"), sum(col("x") * col("x")).as("n2"))
      .crossJoin(broadcast(qn2))
      .select(col("vec_id"),
        round(col("dot").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("qn2").cast("double"))), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(10)
  }
}

/** Q19e — PERSISTED IVF ANN index: q19d's coarse quantizer through
  * the `plans/Stores` lifecycle, closing the STORE column of the
  * similarity-search family the way q57b/q25f/q25h close the dedup
  * matrix's. At 100 TB nobody re-clusters the corpus per query —
  * the index is built ONCE per corpus fingerprint and every query
  * serves from it:
  *
  *  - `centroids` table: K rows (list_id, centroid as array<double>)
  *    — the quantizer's whole output; reading it to the driver is
  *    O(K), and the spark.ml MODEL is no longer needed at serve time
  *    (the store IS the model).
  *  - `lists` table: (vec_id, embedding) PARTITIONED BY list_id —
  *    q19d's Scaladoc promise ("at scale a write-time partition
  *    column") made real: a query probing nProbe of K lists prunes
  *    K−nProbe partitions at the SCAN, never reading them
  *    (plan-asserted: partition filters present, selected-partition
  *    count == nProbe).
  *
  * Serve: O(K) driver sqdist picks the nProbe nearest lists, the
  * pruned scan feeds the SAME exact-cosine arithmetic as q19d
  * (`exactCosineTopK`), so the store tier is row-identical to the
  * recompute tier by construction — AnnIvfSpec pins exactly that,
  * plus build-once (store files untouched on re-serve). HASH-checked
  * since round 16 via the q19f snapshot bridge (VERDICT r15 #5): the
  * KMeans float iterations are not relationally replayable, but the
  * fitted index on disk is plain parquet, so [[run]] snapshots the
  * probed list ids + list membership and the oracle replays candidate
  * membership and the exact decimal cosines. Recall inherits q19d's
  * measured probe-curve. */
object Q19eAnnIvfStore extends GraftQuery {
  import NorthStar._
  val name = "q19e_ann_ivf_store"
  private val prefix = "graft_annstore"

  /** Build (or bind) the persisted index: one seeded KMeans fit per
    * corpus fingerprint, then only tables. */
  private[graft] def ensureStore(spark: SparkSession, dir: String): (String, String) =
    ensureStoreAt(spark, dir, prefix, trainOnly = false)

  /** s19's variant: the index holds only the TRAIN-split vectors, so
    * the test split is a genuine arriving delta for the ingest tier. */
  private[graft] def ensureTrainStore(spark: SparkSession, dir: String): (String, String) =
    ensureStoreAt(spark, dir, "graft_s19index", trainOnly = true)

  private def ensureStoreAt(spark: SparkSession, dir: String,
      pfx: String, trainOnly: Boolean): (String, String) = {
    val names = graft.plans.Stores.ensure(
        spark, pfx, dir, Seq("centroids", "lists"),
        fpTables = Seq("embeddings.parquet")) {
      case Seq(centT, listsT) =>
        import org.apache.spark.ml.clustering.KMeans
        import spark.implicits._
        val base = Tables.embeddings(spark, dir)
        val e = Q19dAnnIvf.fitInput(
          if (trainOnly)
            base.filter(Q40TrainTestSplit.splitColOf("vec_id") === "train")
          else base)
        val model = new KMeans().setK(Q19dAnnIvf.K).setSeed(42).setMaxIter(20)
          .setFeaturesCol("features").setPredictionCol("list_id").fit(e)
        model.clusterCenters.zipWithIndex
          .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
          .toDF("list_id", "centroid")
          .write.format("parquet").saveAsTable(centT)
        model.transform(e)
          .select(col("list_id"), col("vec_id"), col("embedding"))
          .write.format("parquet").partitionBy("list_id").saveAsTable(listsT)
    }
    // Read-repair the LISTS table on every resolve (ADVICE r18): the
    // table takes unguarded ingest appends (s19's tier), and before
    // this only [[served]]'s probed-partition repair recovered a torn
    // part — q19f's full-table balance scan, q19g's probed scan and
    // the q75b/s24 semantic arms all read through ensureStore with no
    // guard, so a part a SIGKILLed ingest left torn failed those
    // serves with no recovery short of eviction. Repairing here
    // covers EVERY reader that resolves the store; the cost is one
    // recursive listing + a 12-byte envelope read per part file —
    // the same order as the partition discovery the scan performs.
    graft.plans.ReadRepair.repairTable(spark, names(1))
    (names(0), names(1))
  }

  /** The driver-side probe pick: O(K) centroid rows, nearest-by-sqdist
    * with ties to the lowest list_id (a TOTAL order — the pick must be
    * engine- and collect-order-independent for the snapshot oracle). */
  private[graft] def probesFor(spark: SparkSession, dir: String,
      centT: String, nProbe: Int): Seq[Int] = {
    val qVec = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    spark.table(centT).collect() // K rows: the whole quantizer
      .map { r =>
        val c = r.getSeq[Double](1)
        val d2 = c.zip(qVec).map { case (a, b) => (a - b) * (a - b) }.sum
        (r.getInt(0), d2)
      }
      .sortBy { case (lid, d2) => (d2, lid) }.take(nProbe).map(_._1).toSeq
  }

  /** The partition-pruned candidate scan + exact cosine for a probe
    * pick — shared by [[query]] and [[run]] (one serve plan, the
    * round-16 review rule). */
  private def served(spark: SparkSession, dir: String, listsT: String,
      probe: Seq[Int]): DataFrame = {
    // Read-repair the PROBED partitions only (VERDICT r17 #1): the
    // lists table takes unguarded ingest appends (s19's tier), so a
    // hard-killed writer can leave a torn part under the valid store
    // marker. Validating just the nProbe probed list directories
    // keeps the repair O(probed files) — the same subset the pruned
    // scan is about to list anyway, never the K−nProbe unread lists.
    val wh = graft.plans.Stores.warehouse(spark)
    val repaired = probe.flatMap { lid =>
      graft.plans.ReadRepair.repairLocation(spark,
        new org.apache.hadoop.fs.Path(
          wh.resolve(listsT).resolve(s"list_id=$lid").toUri),
        // quarantine OUTSIDE the table root — a sibling dir inside it
        // would read as a malformed partition directory
        Some(new org.apache.hadoop.fs.Path(wh.resolve(
          listsT + graft.plans.ReadRepair.QuarantineSuffix).toUri)))
    }
    if (repaired.nonEmpty) spark.catalog.refreshTable(listsT)
    val cand = spark.table(listsT)
      .filter(col("list_id").isin(probe: _*) && col("vec_id") =!= 0)
    Q19dAnnIvf.exactCosineTopK(spark, dir, cand)
  }

  /** Probe the persisted index: O(K) centroid rows to the driver,
    * partition-pruned candidate scan, exact cosine within. */
  private[graft] def query(spark: SparkSession, dir: String,
      centT: String, listsT: String, nProbe: Int): DataFrame =
    served(spark, dir, listsT, probesFor(spark, dir, centT, nProbe))

  /** Absolute snapshot dirs (probed list ids, list membership) of the
    * last [[run]] — the q19f oracle bridge: the KMeans fit is not
    * relationally replayable, but the FITTED index on disk is plain
    * parquet, and given the pinned (probe, membership) tables the
    * candidate set and the exact in-candidate cosines ARE relational
    * (VERDICT r15 #5). The probe snap is fingerprint-keyed (ADVICE
    * r16 — interleaved corpora write distinct paths); the MEMBERSHIP
    * is not copied at all: listsT is write-once per corpus
    * fingerprint (ingest tiers append to run-scoped COPIES, never
    * this table), so its own warehouse directory is the pinned
    * artifact and the oracle reads it hive-partitioned — the serve no
    * longer pays an O(corpus) snapshot write (ADVICE r16; the S19
    * posture). Dir-keyed registry (VERDICT r17 #5): interleaved
    * corpora each pair with their own snapshot via [[oracleFor]]. */
  private val snapshot = new graft.plans.SnapRegistry[(String, String)]

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (centT, listsT) = ensureStore(spark, dir)
    val probe = probesFor(spark, dir, centT, Q19dAnnIvf.NProbe)
    val probeSnap = graft.plans.Stores.snapPath(spark,
      "graft_q19e_probe_snap", dir, Seq("embeddings.parquet"))
    probe.toDF("list_id").repartition(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(probeSnap)
    snapshot.put(dir, (probeSnap, graft.plans.Stores.tablePath(spark, listsT)))
    served(spark, dir, listsT, probe)
  }

  /** Nearest-STORED-centroid assignment for arriving vectors — the
    * ADMIT half of the IVF insertion contract (inserts never move
    * centroids; a meaningful quantizer drift is a rebuild, exactly
    * the q64f retrain split): a K-row broadcast of the centroids
    * table, per-vector squared-distance fold, min-of-struct argmax
    * (ties to the lowest list — a total order, so the assignment is
    * engine- and partitioning-independent). Map-only per vector. */
  private[graft] def assign(spark: SparkSession, centT: String,
      vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(spark.table(centT)
        .select(col("list_id").as("c_list"), col("centroid"))))
      .withColumn("d2", expr(
        "aggregate(zip_with(cast(embedding as array<double>), centroid, " +
          "(x, c) -> (x - c) * (x - c)), 0D, (acc, v) -> acc + v)"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("c_list"), col("embedding"))).as("b"))
      .select(col("vec_id"), col("b.embedding").as("embedding"),
        col("b.c_list").as("list_id"))

  /** Append assigned vectors to a lists table THROUGH its partition
    * column (positional insert in the table's own field order), so
    * the pruned-scan serve posture survives every ingest. */
  private[graft] def appendToLists(spark: SparkSession, listsT: String,
      assigned: DataFrame): Unit = {
    val order = spark.table(listsT).schema.fieldNames.toSeq
    assigned.select(order.map(col): _*)
      .write.mode(org.apache.spark.sql.SaveMode.Append).insertInto(listsT)
  }

  /** HASH oracle over the snapshot (VERDICT r15 #5 — the q19f bridge):
    * candidates = the pinned membership joined to the pinned probe
    * set (replaying exactly what the partition-pruned scan read), and
    * the cosine is q19d's decimal arithmetic over the SOURCE
    * embeddings table. Absent before any run (rows-only fallback);
    * Verify dumps oracle_sql.json after running, so the path is
    * always this run's. */
  def oracle: Option[String] = snapshot.latest.map(bridge)
  private[graft] def oracleFor(dir: String): Option[String] =
    snapshot.forDir(dir).map(bridge)
  private def bridge(v: (String, String)): String =
    duckIvfOracle(v._1, v._2, memHive = true)

  /** Membership CTE body over a pinned membership directory: a flat
    * snapshot copy (q19d's in-JVM assignment), or the lists table's
    * OWN warehouse directory, where list_id is the hive partition
    * column in the path (q19e — no copy on serve). */
  private[queries] def duckMem(memSnap: String, memHive: Boolean): String =
    if (memHive)
      s"SELECT CAST(list_id AS INT) AS list_id, vec_id " +
        s"FROM read_parquet('$memSnap/*/*.parquet', hive_partitioning = 1)"
    else s"SELECT list_id, vec_id FROM read_parquet('$memSnap/*.parquet')"

  /** The shared pinned-candidate replay — q19d (fitted in-JVM
    * membership) and q19e (persisted index membership) serve the
    * same exact-cosine contract, so one oracle builder gates both. */
  private[queries] def duckIvfOracle(probeSnap: String,
      memSnap: String, memHive: Boolean = false): String = {
    def d(x: String) = NorthStar.duckDec(x)
    s"""
    WITH probe AS (SELECT list_id FROM read_parquet('$probeSnap/*.parquet')),
    cand AS (SELECT m.vec_id
             FROM (${duckMem(memSnap, memHive)}) m
             JOIN probe p ON m.list_id = p.list_id
             WHERE m.vec_id <> 0),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    c AS (SELECT e.vec_id,
      list_aggregate(list_transform(range(1, len(e.embedding)+1), i -> ${d("e.embedding[i]")} * ${d("qv[i]")}), 'sum') AS dot,
      list_aggregate(list_transform(range(1, len(e.embedding)+1), i -> ${d("e.embedding[i]")} * ${d("e.embedding[i]")}), 'sum') AS n2,
      list_aggregate(list_transform(range(1, len(qv)+1), i -> ${d("qv[i]")} * ${d("qv[i]")}), 'sum') AS qn2
      FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id, q)
    SELECT vec_id,
      round(${NorthStar.duckDbl("dot")} / (sqrt(${NorthStar.duckDbl("n2")}) * sqrt(${NorthStar.duckDbl("qn2")})), 4) AS cosine
    FROM c ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """.trim
  }
}

/** Q19f — IVF list balance / REBALANCE TRIGGER: the operational query
  * that closes the ANN index's quantizer-drift loop — q64f's
  * retrain-on-meaningful-drift split applied to the similarity
  * family. s19's insertion contract freezes the centroids, so under
  * distribution drift the list-size histogram skews and probe cost
  * stops tracking nProbe/K (one bloated list costs like a full
  * scan); the retrain signal is the occupancy skew of the PERSISTED
  * lists table — read from the index, never from a re-clustering.
  *
  * Output: one row per list (empty lists included via the centroids
  * table — a starved list is drift evidence too) with its occupancy
  * and share, plus the global verdict: retrain ⇔ max occupancy ×
  * K > [[SkewFactor]] × total (an exact-BIGINT cross-multiplication,
  * q68's threshold discipline — no float compare can drift it).
  * Rebuild = `Stores.evict` + `ensureStore` (the layout-version /
  * fingerprint machinery guarantees the new index retires the old).
  * Scale shape: one count-per-partition aggregate over the lists
  * table + a K-row window — O(index), no vector math at all.
  *
  * ORACLE (round 12): unlike the rest of the ANN family, the verdict
  * is pure integer arithmetic over the PERSISTED tables — the KMeans
  * fit isn't relationally replayable, but the fitted assignments on
  * disk are plain parquet DuckDB can read. [[run]] snapshots the two
  * fingerprinted tables' id columns to stable warehouse paths and
  * records them; [[oracle]] (a def) then replays the occupancy
  * aggregate + window + cross-multiplied threshold over the snapshot
  * — Verify dumps oracle_sql.json AFTER running the queries, so the
  * path is always this run's. Before any run the oracle is absent
  * (rows-only fallback, same as before). Spec still gates
  * determinism and the crafted-skew trigger. */
object Q19fAnnRebalance extends GraftQuery {
  val name = "q19f_ann_rebalance"
  /** Max-over-mean occupancy ratio beyond which probe-cost math is
    * off by the same factor — the retrain bar. */
  val SkewFactor = 4L

  /** Absolute PINNED dirs (centroids, lists) of the last [[run]] —
    * the oracle bridge described above. Both tables are write-once
    * per corpus fingerprint, so their own warehouse directories are
    * the pinned artifacts (fingerprint-keyed names by construction);
    * the serve pays NO snapshot copy at all (ADVICE r16). Dir-keyed
    * (VERDICT r17 #5): interleaved corpora pair via [[oracleFor]]. */
  private val snapshot = new graft.plans.SnapRegistry[(String, String)]

  /** The balance frame over any (centroids, lists) pair — shared by
    * the driver entry and the crafted-skew spec. */
  private[graft] def balanceFrame(spark: SparkSession, centT: String,
      listsT: String): DataFrame = {
    val occ = spark.table(listsT)
      .groupBy(col("list_id").cast("int").as("list_id"))
      .agg(count(lit(1)).as("n"))
    val k = lit(Q19dAnnIvf.K.toLong)
    val w = Window.partitionBy(lit(1))
    spark.table(centT).select(col("list_id"))
      .join(occ, Seq("list_id"), "left")
      .select(col("list_id"), coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("total", sum(col("n")).over(w))
      .withColumn("max_n", max(col("n")).over(w))
      .select(col("list_id"), col("n"),
        // zero-guarded like q63's empty-input rule: an empty index
        // reports 0.0 shares and retrain=false, never NaN. UNROUNDED
        // per the GraftQuery ratio rule: one IEEE division of two
        // exact integers is bit-deterministic across engines, while
        // ROUND on it is the halfway-point hazard.
        when(col("total") === 0, lit(0.0)).otherwise(
          col("n").cast("double") / col("total").cast("double"))
          .as("share"),
        (col("max_n") * k > lit(SkewFactor) * col("total")).as("retrain"))
      .orderBy(col("list_id"))
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (centT, listsT) = Q19eAnnIvfStore.ensureStore(spark, dir)
    snapshot.put(dir, (graft.plans.Stores.tablePath(spark, centT),
      graft.plans.Stores.tablePath(spark, listsT)))
    balanceFrame(spark, centT, listsT)
  }

  def oracle: Option[String] = snapshot.latest.map(bridge)
  private[graft] def oracleFor(dir: String): Option[String] =
    snapshot.forDir(dir).map(bridge)
  private def bridge(v: (String, String)): String = v match {
    case (centSnap, listsSnap) =>
    s"""
    WITH occ AS (
      SELECT c.list_id AS list_id, count(l.list_id) AS n
      FROM read_parquet('$centSnap/*.parquet') c
      LEFT JOIN (SELECT CAST(list_id AS INT) AS list_id
                 FROM read_parquet('$listsSnap/*/*.parquet', hive_partitioning = 1)) l
        ON c.list_id = l.list_id
      GROUP BY c.list_id),
    t AS (SELECT list_id, n, sum(n) OVER () AS total, max(n) OVER () AS max_n
          FROM occ)
    SELECT list_id, CAST(n AS BIGINT) AS n,
      CASE WHEN total = 0 THEN 0.0
           ELSE CAST(n AS DOUBLE) / CAST(total AS DOUBLE) END AS share,
      (max_n * ${Q19dAnnIvf.K} > $SkewFactor * total) AS retrain
    FROM t ORDER BY list_id
    """.trim
  }
}

/** Q26 — TF-IDF top terms per document: the query the inverted index
  * exists to serve. tf with multiplicity per (doc, word); df over
  * distinct (doc, word); score = tf · ln(N/df). ROUND(…,4) absorbs
  * the one non-correctly-rounded IEEE op (ln differs by ≤1 ulp
  * between libm and the JVM); ties broken by word so the top-3
  * window is total. Scale shape: two keyed shuffles (tf, df) + one
  * broadcast scalar N + one per-doc window — no all-pairs anything. */
object Q26TfIdf extends GraftQuery {
  val name = "q26_tfidf_top_terms"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val words = InvertedIndex.words(Tables.documents(spark, dir), "doc_id")
    val tf = words.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = words.select(col("doc_id"), col("word")).distinct()
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).count() // scalar, broadcast as literal
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word").asc)
    tf.join(df, "word")
      .withColumn("tfidf", round(
        col("tf").cast("double") * log(lit(n.toDouble) / col("df").cast("double")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn").cast("int").as("rn"), col("word"),
        col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rn"))
  }
  val oracle = Some(raw"""
    WITH words AS (
      SELECT doc_id,
        lower(regexp_replace(unnest(string_split_regex(text, '\s+')), '[^a-zA-Z]', '', 'g')) AS word
      FROM documents),
    w AS (SELECT doc_id, word FROM words WHERE word <> ''),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
    df AS (SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM w) GROUP BY word),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    s AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
          round(CAST(tf.tf AS DOUBLE) * ln((SELECT n FROM n) / CAST(df.df AS DOUBLE)), 4) AS tfidf
          FROM tf JOIN df ON tf.word = df.word),
    r AS (SELECT doc_id, word, tf, df, tfidf,
          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS INT) AS rn
          FROM s)
    SELECT doc_id, rn, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf
    FROM r WHERE rn <= 3 ORDER BY doc_id, rn
  """.trim)
}

/** Q74 — BM25 ranked retrieval (Robertson/Spärck Jones; the Okapi
  * k1/b form): top-10 documents per query for a fixed multi-query
  * batch, scored against the corpus the inverted-index family (q1)
  * already tokenizes. The ranking function the reference's index
  * would need the moment someone ASKS it something.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - ONE corpus tokenize pass total: the per-doc length frame is
  *    localCheckpointed (doc-count-scale, tiny) and feeds (a) the
  *    N/avgdl scalars — exact BIGINTs, collected O(1) — and (b) the
  *    per-doc normalizer join;
  *  - the query-term table is a literal BROADCAST: tf is computed
  *    only for matching (doc, term) pairs — the corpus-scale stream
  *    is filtered to query terms BEFORE any shuffle (map-side
  *    semi-reduction: candidate postings, not the corpus, ride the
  *    groupBy);
  *  - df for the ≤|Q| distinct terms falls out of the tf frame
  *    (doc-count-scale) and broadcasts back;
  *  - the per-(query, doc) sum folds a word-sorted struct array
  *    (q54's order-deterministic float-sum pattern), and ranking
  *    orders by the ROUNDED score so cross-engine ordering can never
  *    diverge on an ulp.
  * IEEE parity: N, df, tf, dl, Σdl are exact integers; avgdl is one
  * division; the BM25 term is the same literal expression shape in
  * both engines (ln + mul/div chain, round-4 after the fold — the
  * q26 precedent). */
object Q74Bm25 extends GraftQuery {
  val name = "q74_bm25_retrieval"
  // (query_id, terms) — drawn from the fixture generator's closed
  // vocabulary so every query matches; k1/b are the standard Okapi
  // defaults.
  private[graft] val querySet: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "join", "fast"),
    2 -> Seq("hash", "table"),
    3 -> Seq("stream", "window", "agg"))
  /** Tokenize with POSITIONS — (doc_id, pos, word); pos is the
    * 1-based index among the RETAINED normalized words (empties are
    * dropped BEFORE numbering, so phrase adjacency — q74c — is
    * insensitive to punctuation-only tokens between words). Map-only:
    * normalize+filter runs inside one array expression per doc and a
    * single posexplode — no per-doc window, no shuffle; at 100 TB
    * positions are assigned at scan time like the words themselves. */
  private[graft] def wordsPosOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(filter(
        transform(split(col("text"), "\\s+"),
          t => NormalizeWord.of(t)),
        w => w =!= "")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"),
        col("col").as("word"))

  /** Tokenize an arbitrary document frame — (doc_id, word), q26's
    * normalizer; shared by the recompute tier, the store build, and
    * the streaming index maintainer (s23). One normalization for the
    * whole retrieval family: the position-free view of [[wordsPosOf]]. */
  private[graft] def wordsOf(docs: DataFrame): DataFrame =
    wordsPosOf(docs).select(col("doc_id"), col("word"))

  /** Per-doc postings increment — the index rows `docs` contributes
    * (word, doc_id, tf, positions); doc_ids are unique across
    * micro-batches, so per-batch postings APPEND without conflict
    * (the s23 invariant). `positions` (sorted, 1-based — see
    * [[wordsPosOf]]) is what the phrase tier (q74c) consumes; BM25
    * scoring reads only tf, and carrying the array is additive — the
    * same admit()/s23 maintenance covers both consumers (VERDICT r13
    * #7). */
  private[graft] def postingsOf(docs: DataFrame): DataFrame =
    wordsPosOf(docs).groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** The corpus tokenize stream — (doc_id, word), q26's normalizer. */
  private[queries] def words(spark: SparkSession, dir: String): DataFrame =
    wordsOf(Tables.documents(spark, dir))

  /** Scoring core shared by the recompute and STORE tiers (the
    * q64e/q64j rule: tiers share one scoring plan so they can never
    * drift): `tf` = (doc_id, word, tf) restricted to query terms,
    * `dl` = (doc_id, dl), scalars exact. Returns the PRE-window
    * (query_id, doc_id, score, matched) frame — [[rank]] caps it at
    * 10, q75's RRF fuses it 20-deep. */
  private[graft] def scores(spark: SparkSession, tf: DataFrame,
      dl: DataFrame, nDocs: Long, totTok: Long): DataFrame = {
    import spark.implicits._
    scoresOver(spark, tf, dl, nDocs, totTok,
      querySet.flatMap { case (q, ts) => ts.map(q -> _) }
        .toDF("query_id", "word"))
  }

  /** [[scores]] over a caller-provided (query_id, word) term table —
    * the phrase-boost tier (q74d) feeds VIRTUAL terms (each phrase as
    * one term key whose tf is its occurrence count) through the same
    * Okapi plan, so boosted and plain tiers cannot drift. df falls
    * out of the input tf frame (one row per (doc, key)), which is
    * exactly the virtual-term df: docs containing the phrase. */
  private[graft] def scoresOver(spark: SparkSession, tf: DataFrame,
      dl: DataFrame, nDocs: Long, totTok: Long,
      qterms: DataFrame): DataFrame = {
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val avgdl = lit(totTok.toDouble / nDocs.toDouble)
    val term = (
      log((lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0)) *
        (col("tf").cast("double") * lit(1.2 + 1.0)) /
        (col("tf").cast("double") + lit(1.2) *
          (lit(1.0 - 0.75) + lit(0.75) * col("dl").cast("double") / avgdl))
      ).as("term")
    tf.join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .join(broadcast(qterms), Seq("word"))
      .select(col("query_id"), col("doc_id"), col("word"), term)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("matched"),
        sort_array(collect_list(struct(col("word"), col("term")))).as("ts"))
      .withColumn("score", round(expr(
        "aggregate(transform(ts, x_ -> x_.term), cast(0 as double), " +
          "(a_, x_) -> a_ + x_)"), 4))
      .select(col("query_id"), col("doc_id"), col("score"), col("matched"))
  }

  /** The full score+rank tail — the contract the store (q74b) and
    * stream (s23) tiers serve through. */
  private[graft] def rank(spark: SparkSession, tf: DataFrame,
      dl: DataFrame, nDocs: Long, totTok: Long): DataFrame =
    topK(scores(spark, tf, dl, nDocs, totTok), 10)

  /** The ranking window, parameterized for consumers that fuse a
    * deeper list (q75's RRF reads 20-deep arms). */
  private[graft] def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("score"), col("matched"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The scored (pre-window) lexical frame for `dir` — q74's whole
    * pipeline short of ranking; shared with the RRF fusion (q75). */
  private[graft] def lexScores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ws = words(spark, dir)
    // Doc lengths once, lineage-truncated: the scalar action below and
    // the normalizer join both read the checkpoint blocks instead of
    // re-tokenizing the corpus (blocks are ContextCleaner-reclaimed
    // when the result is GC'd — the q18f note).
    val dl = ws.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .localCheckpoint(true)
    val scal = dl.agg(count(lit(1)).cast("long"), sum(col("dl")).cast("long")).head()
    val qwords = querySet.flatMap(_._2).distinct.toDF("word")
    // Corpus-scale stream dies here: only query-term postings survive
    // into the (doc, word) aggregation. The result is query-term-scale
    // (≤|Q| rows per matching doc), and rank() consumes it TWICE (df
    // rollup + scored chain) — Spark shares no DAG subtrees and the
    // rollup's distinct-agg rewrite defeats exchange reuse, so without
    // a barrier each branch would re-tokenize the corpus (measured:
    // 2 scans). localCheckpoint pins the tiny frame; total corpus
    // passes = the two genuinely different aggregations (dl, tf).
    val tf = ws.join(broadcast(qwords), Seq("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    scores(spark, tf, dl, scal.getLong(0), scal.getLong(1))
  }

  def run(spark: SparkSession, dir: String): DataFrame =
    topK(lexScores(spark, dir), 10)

  /** DuckDB CTE chain ending in `s(query_id, doc_id, matched, score)`
    * — the lexical arm, shared verbatim by q74's oracle and q75's
    * fusion oracle so the arms can never drift between gates. */
  private[queries] val duckLexCtes: String =
    duckLexCtesFor(querySet)

  /** The same chain over an arbitrary query set — the query-table
    * serve's oracle (q74f) replays its batch through it. */
  private[queries] def duckLexCtesFor(
      qs: Seq[(Int, Seq[String])]): String = {
    val qvals = qs.flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    raw"""words AS (
      SELECT doc_id,
        lower(regexp_replace(unnest(string_split_regex(text, '\s+')), '[^a-zA-Z]', '', 'g')) AS word
      FROM documents),
    w AS (SELECT doc_id, word FROM words WHERE word <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id),
    scal AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
    q(query_id, word) AS (VALUES $qvals),
    qw AS (SELECT DISTINCT word FROM q),
    tf AS (SELECT w.doc_id, w.word, count(*) AS tf
           FROM w JOIN qw ON w.word = qw.word GROUP BY w.doc_id, w.word),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    t AS (SELECT q.query_id, tf.doc_id, tf.word,
        ln((CAST((SELECT n FROM scal) AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
             / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
        * (CAST(tf.tf AS DOUBLE) * 2.2)
        / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
             / (CAST((SELECT tot FROM scal) AS DOUBLE) / CAST((SELECT n FROM scal) AS DOUBLE)))) AS term
      FROM tf
      JOIN df ON tf.word = df.word
      JOIN dl ON tf.doc_id = dl.doc_id
      JOIN q ON q.word = tf.word),
    s AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS matched,
            round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list(term ORDER BY word ASC)), (a_, x_) -> a_ + x_), 4) AS score
          FROM t GROUP BY query_id, doc_id)""".trim
  }

  val oracle = Some(s"""
    WITH $duckLexCtes,
    r AS (SELECT query_id, doc_id, score, matched,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
          FROM s)
    SELECT query_id, rank, doc_id, score, matched
    FROM r WHERE rank <= 10 ORDER BY query_id, rank
  """.trim)
}

/** RRF fusion constants — ONE definition shared by every fusion tier
  * (q75/q75b/q75c/q75d, s24 through q75b's `fuse`) and by the DuckDB
  * arm CTEs their oracles embed (ADVICE r15: three private copies of
  * this pair could silently desynchronize a Spark plan from the
  * shared oracle CTEs, caught only at hash-gate time). */
private[queries] object Rrf {
  /** Per-arm ranking depth entering the fusion. */
  val ArmDepth = 20
  /** The RRF smoothing constant (Cormack et al. 2009's k). */
  val RrfK = 60

  /** The three-arm RRF tail shared by q75c and the table-driven q75d
    * (tiers cannot fork): full-outer on (query_id, doc_id), absent
    * arms contribute 0, and the sum is left-to-right (lex + sem) +
    * prox — the oracles add in the same order, so the doubles are
    * bit-identical. Inputs carry (query_id, doc_id, <arm>_rank). */
  def fuse3(lex: DataFrame, sem: DataFrame, prox: DataFrame): DataFrame = {
    val fused = lex
      .join(sem, Seq("query_id", "doc_id"), "full_outer")
      .join(prox, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).cast("int").as("lex_rank"),
        coalesce(col("sem_rank"), lit(0)).cast("int").as("sem_rank"),
        coalesce(col("prox_rank"), lit(0)).cast("int").as("prox_rank"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("sem_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("prox_rank")), lit(0.0)))
          .as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("rrf"), col("lex_rank"), col("sem_rank"),
        col("prox_rank"))
      .orderBy(col("query_id"), col("rank"))
  }
}

/** Q75 — HYBRID RETRIEVAL via Reciprocal Rank Fusion (Cormack et al.
  * 2009; the fusion step every production RAG stack runs): the BM25
  * arm (q74's scoring pipeline, 20-deep) and an embedding-cosine arm
  * (q19's exact decimal dot-product technique, one probe vector per
  * query, 20-deep) merged by RRF(k=60) — score(d) = Σ_arm
  * 1/(60 + rank_arm(d)), absent arm contributes 0 — surfacing the
  * fused top-10 with both per-arm ranks.
  *
  * Scale shape: the lexical arm is q74's (broadcast term filter, two
  * checkpointed corpus aggregations); the semantic arm broadcasts the
  * |Q| probe vectors through one posexplode join (map-side ×|Q|
  * multiply — linear in corpus for a bounded query batch; a large
  * batch would tile it) and ranks only candidate cosines. Fusion
  * joins two ≤20·|Q|-row frames — driver-scale.
  *
  * Exactness: ranks come from engine-exact orderings (BM25 rounds to
  * 4 before ranking; cosine's dot/n2 are exact DECIMAL sums, the
  * division+sqrt correctly rounded in both engines — the q19-proven
  * path), and the RRF score is a sum of two single divisions of
  * exact integers in a fixed order — surfaced UNROUNDED (the q55
  * rule). */
object Q75HybridRrf extends GraftQuery {
  import NorthStar._
  val name = "q75_hybrid_rrf"
  import Rrf.{ArmDepth, RrfK}
  /** Probe vector per query: vec_id = query_id − 1 (the fixture's
    * embeddings align 1:1 with doc_ids; production would plug the
    * query encoder's output in here). */
  private val probeIds = Q74Bm25.querySet.map(_._1 - 1L)

  /** (query_id, doc_id, cosine) for every candidate — the semantic
    * arm, pre-ranking; the three-arm fusion (q75c) ranks it too. */
  private[queries] def semScores(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val ex = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), dec(col("x")).as("x"))
    val probes = ex.filter(col("vec_id").isin(probeIds: _*))
      .select((col("vec_id") + 1).as("query_id"), col("pos"), col("x").as("qx"))
    val qn2 = probes.groupBy(col("query_id"))
      .agg(sum(col("qx") * col("qx")).as("qn2"))
    ex.join(broadcast(probes), Seq("pos"))
      .filter(col("vec_id") =!= col("query_id") - 1)
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("x") * col("qx")).as("dot"), sum(col("x") * col("x")).as("n2"))
      .join(broadcast(qn2), Seq("query_id"))
      .select(col("query_id").cast("int").as("query_id"),
        col("vec_id").as("doc_id"),
        (col("dot").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("qn2").cast("double"))))
          .as("cosine"))
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val lex = Q74Bm25.topK(Q74Bm25.lexScores(spark, dir), ArmDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val semW = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id").asc)
    val sem = semScores(spark, dir)
      .withColumn("sem_rank", row_number().over(semW))
      .filter(col("sem_rank") <= ArmDepth)
      .select(col("query_id"), col("doc_id"), col("sem_rank"))
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).cast("int").as("lex_rank"),
        coalesce(col("sem_rank"), lit(0)).cast("int").as("sem_rank"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("sem_rank")), lit(0.0)))
          .as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("rrf"), col("lex_rank"), col("sem_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** CTE chain `lexr` + `semr` — both arms ranked ArmDepth-deep
    * (assumes [[Q74Bm25.duckLexCtes]]'s `s` in scope). Shared with
    * the three-arm fusion's oracle (q75c) so the two shared arms
    * cannot drift between gates. */
  private[queries] val duckArmCtes: String = {
    def d(x: String) = NorthStar.duckDec(x)
    s"""lexr AS (SELECT query_id, doc_id,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS lex_rank
          FROM s QUALIFY lex_rank <= $ArmDepth),
    probes AS (SELECT CAST(vec_id + 1 AS INT) AS query_id, vec_id AS pid, embedding AS qv
               FROM embeddings WHERE vec_id IN (${probeIds.mkString(", ")})),
    c AS (SELECT p.query_id, e.vec_id AS doc_id,
      list_aggregate(list_transform(range(1, len(e.embedding)+1), i -> ${d("e.embedding[i]")} * ${d("p.qv[i]")}), 'sum') AS dot,
      list_aggregate(list_transform(range(1, len(e.embedding)+1), i -> ${d("e.embedding[i]")} * ${d("e.embedding[i]")}), 'sum') AS n2,
      list_aggregate(list_transform(range(1, len(p.qv)+1), i -> ${d("p.qv[i]")} * ${d("p.qv[i]")}), 'sum') AS qn2
      FROM embeddings e, probes p WHERE e.vec_id <> p.pid),
    sem AS (SELECT query_id, doc_id,
            ${NorthStar.duckDbl("dot")} / (sqrt(${NorthStar.duckDbl("n2")}) * sqrt(${NorthStar.duckDbl("qn2")})) AS cosine
          FROM c),
    semr AS (SELECT query_id, doc_id,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id ASC) AS INT) AS sem_rank
          FROM sem QUALIFY sem_rank <= $ArmDepth)"""
  }

  val oracle = Some(s"""
    WITH ${Q74Bm25.duckLexCtes},
    $duckArmCtes,
    fused AS (SELECT COALESCE(l.query_id, m.query_id) AS query_id,
            COALESCE(l.doc_id, m.doc_id) AS doc_id,
            COALESCE(l.lex_rank, 0) AS lex_rank,
            COALESCE(m.sem_rank, 0) AS sem_rank,
            COALESCE(CAST(1 AS DOUBLE) / ($RrfK + l.lex_rank), 0)
              + COALESCE(CAST(1 AS DOUBLE) / ($RrfK + m.sem_rank), 0) AS rrf
          FROM lexr l FULL OUTER JOIN semr m
            ON l.query_id = m.query_id AND l.doc_id = m.doc_id),
    rr AS (SELECT query_id, doc_id, rrf, lex_rank, sem_rank,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
          FROM fused)
    SELECT query_id, rank, doc_id, rrf, lex_rank, sem_rank
    FROM rr WHERE rank <= 10 ORDER BY query_id, rank
  """.trim)
}

/** Q75b — STORE-ARMED HYBRID RRF: q75's fusion with BOTH arms served
  * from persisted indexes — the production shape (VERDICT r13 next
  * #8). The lexical arm reads the bucket-pruned BM25 store 20-deep
  * ([[Q74bBm25Store.scoredFrom]] — the same scoring plan as q74,
  * tiers cannot drift); the embedding arm probes the q19e IVF store
  * at the measured probe depth (NProbe = [[Q19dAnnIvf.NProbe]], the
  * point the q19e probe/recall curve was measured at) — O(K)
  * centroid rows to the driver pick each query's lists, the lists
  * scan is PARTITION-PRUNED to the probed lists, and exact cosine
  * runs only inside the candidates. Fusion is q75's RRF(k=60)
  * verbatim.
  *
  * Correctness tier: HASH against the run's own snapshot (round 16,
  * VERDICT r15 #5 — the q19f bridge): the KMeans fit isn't
  * relationally replayable, but the fitted probe/membership tables
  * on disk are, so the oracle replays candidate membership, the
  * double-fold cosines, both rankings and the RRF fusion exactly.
  * Round14Spec additionally pins the pruned-scan plan, determinism,
  * and a measured recall floor against q75's exact fusion (the IVF
  * arm stays approximate RELATIVE TO exact search; the snapshot gate
  * proves the serve computes precisely what the index says). */
object Q75bHybridRrfStore extends GraftQuery {
  import NorthStar._
  val name = "q75b_hybrid_rrf_store"
  import Rrf.{ArmDepth, RrfK}
  private[graft] val probeIds = Q74Bm25.querySet.map(_._1 - 1L)
  /** Compiled default query pairs (query_id, probe-vector id) — the
    * q74 query pack's convention (pid = query_id − 1). The streamed
    * tier (s24) passes CALLER pairs instead (VERDICT r16 #3). */
  private[graft] val defaultQueries: Seq[(Int, Long)] =
    Q74Bm25.querySet.map { case (q, _) => (q, q - 1L) }

  /** (query_id, probe-vector id, probed list ids) — the O(K)·O(|Q|)
    * driver-side probe pick, exposed so [[run]] can snapshot it for
    * the hash oracle (the q19f bridge). `queries` parameterizes the
    * batch (a query batch is driver-scale by contract). */
  private[graft] def probeTriples(spark: SparkSession, dir: String,
      centT: String,
      queries: Seq[(Int, Long)] = defaultQueries): Seq[(Int, Long, Seq[Int])] = {
    val cents = spark.table(centT).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val qvs = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(queries.map(_._2): _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    queries.map { case (q, pid) =>
      val qv = qvs(pid)
      val probe = cents.map { case (lid, c) =>
        (lid, c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum) }
        .sortBy { case (lid, d2) => (d2, lid) }
        .take(Q19dAnnIvf.NProbe).map(_._1).toSeq
      (q, pid, probe)
    }
  }

  /** The IVF arm over an explicitly bound (centroids, lists) family —
    * the ingest-tier fusion (s24) probes a freshly streamed-into
    * working index through exactly this plan, with ITS caller-table
    * query pairs. */
  private[graft] def semArmFrom(spark: SparkSession, dir: String,
      centT: String, listsT: String,
      queries: Seq[(Int, Long)] = defaultQueries): DataFrame = {
    import spark.implicits._
    // O(K) quantizer to the driver (the q19e rule), O(|Q|) probe
    // vectors: both driver-known, so the probed list set is a plan
    // literal and the lists scan partition-prunes statically.
    val pairs = probeTriples(spark, dir, centT, queries)
    val probePairs = broadcast(pairs
      .flatMap { case (q, pid, ls) => ls.map(l => (q, pid, l)) }
      .toDF("query_id", "pid", "list_id"))
    val qvDf = broadcast(Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(queries.map(_._2): _*))
      .select(col("vec_id").as("pid"), col("embedding").as("qv")))
    val allLists = pairs.flatMap(_._3).distinct
    val cos = spark.table(listsT)
      .filter(col("list_id").isin(allLists: _*)) // static partition prune
      .join(probePairs, Seq("list_id"))
      .filter(col("vec_id") =!= col("pid"))
      .join(qvDf, Seq("pid"))
      .withColumn("dot", expr(
        "aggregate(zip_with(cast(embedding as array<double>), " +
          "cast(qv as array<double>), (x_, y_) -> x_ * y_), 0D, " +
          "(a_, v_) -> a_ + v_)"))
      .withColumn("n2", expr(
        "aggregate(transform(cast(embedding as array<double>), " +
          "x_ -> x_ * x_), 0D, (a_, v_) -> a_ + v_)"))
      .withColumn("qn2", expr(
        "aggregate(transform(cast(qv as array<double>), " +
          "x_ -> x_ * x_), 0D, (a_, v_) -> a_ + v_)"))
      .select(col("query_id").cast("int").as("query_id"),
        col("vec_id").as("doc_id"),
        (col("dot") / (sqrt(col("n2")) * sqrt(col("qn2")))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id").asc)
    cos.withColumn("sem_rank", row_number().over(w))
      .filter(col("sem_rank") <= ArmDepth)
      .select(col("query_id"), col("doc_id"), col("sem_rank"))
  }

  /** The store-tier lexical arm, 20-deep (compiled query pack). */
  private[graft] def lexArm(spark: SparkSession, dir: String): DataFrame = {
    val (postT, lenT, metaT) = Q74bBm25Store.ensureStore(spark, dir)
    Q74Bm25.topK(
        Q74bBm25Store.scoredFrom(spark, postT, lenT, metaT), ArmDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
  }

  /** The lexical arm over a CALLER (query_id, word) term table —
    * q74f's bucket-pruned query-table serve ranked ArmDepth-deep
    * (the streamed fusion's lex arm, VERDICT r16 #3). */
  private[graft] def lexArmFor(spark: SparkSession, dir: String,
      terms: DataFrame): DataFrame = {
    val (postT, lenT, metaT) = Q74bBm25Store.ensureStore(spark, dir)
    Q74Bm25.topK(
        Q74bBm25Store.scoredFromQueries(spark, postT, lenT, metaT, terms),
        ArmDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
  }

  /** q75's RRF(k=60) tail over two ranked arms — shared with the
    * ingest tier (s24) so fusion arithmetic can never fork. */
  private[graft] def fuse(lex: DataFrame, sem: DataFrame): DataFrame = {
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).cast("int").as("lex_rank"),
        coalesce(col("sem_rank"), lit(0)).cast("int").as("sem_rank"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("sem_rank")), lit(0.0)))
          .as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("rrf"), col("lex_rank"), col("sem_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Snapshot dirs (probe triples, list membership) of the last
    * [[run]] — the q19f oracle bridge (VERDICT r15 #5). The probe
    * snap is fingerprint-keyed (ADVICE r16); the membership is NOT
    * copied — the static tier serves the write-once listsT, whose
    * own warehouse directory is the pinned artifact (the q19e/S19
    * posture; only the ingest tier s24, whose working index is
    * mutable and run-scoped, still snapshots membership by copy).
    * Dir-keyed (VERDICT r17 #5): interleaved corpora pair via
    * [[oracleFor]]. */
  private val snapshot = new graft.plans.SnapRegistry[(String, String)]

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (centT, listsT) = Q19eAnnIvfStore.ensureStore(spark, dir)
    val probeSnap = graft.plans.Stores.snapPath(spark,
      "graft_q75b_probe_snap", dir, Seq("embeddings.parquet"))
    writeProbeSnap(spark, probeTriples(spark, dir, centT), probeSnap)
    snapshot.put(dir, (probeSnap, graft.plans.Stores.tablePath(spark, listsT)))
    fuse(lexArm(spark, dir), semArmFrom(spark, dir, centT, listsT))
  }

  /** HASH oracle over the snapshot (VERDICT r15 #5): the KMeans fit
    * is not replayable, but given the pinned (probe, membership)
    * tables the sem arm IS — candidates from the pinned join, cosines
    * as left-folded double products over the SOURCE embeddings (the
    * q18e fold-parity rule: identical IEEE products in identical
    * order), ranks and q75's RRF fusion verbatim. The lexical arm
    * replays through q74's shared CTEs like q75's own oracle. Absent
    * before any run (rows-only fallback); Round14Spec keeps the
    * recall floor against q75's exact fusion. */
  def oracle: Option[String] = snapshot.latest.map(bridge)
  private[graft] def oracleFor(dir: String): Option[String] =
    snapshot.forDir(dir).map(bridge)
  private def bridge(v: (String, String)): String =
    duckFusionOracle(v._1, v._2, memHive = true)

  /** Write a serve's probe-triples snapshot to `probeSnap` (absolute,
    * fingerprint-keyed by the caller) — O(|Q|·nProbe) rows. */
  private[graft] def writeProbeSnap(spark: SparkSession,
      triples: Seq[(Int, Long, Seq[Int])], probeSnap: String): Unit = {
    import spark.implicits._
    triples.flatMap { case (q, pid, ls) => ls.map(l => (q, pid, l)) }
      .toDF("query_id", "pid", "list_id").repartition(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(probeSnap)
  }

  /** Write (probe triples, list membership) snapshots to the given
    * absolute paths — the INGEST-tier bridge (s24): its working index
    * is a run-scoped table torn down after the serve, so membership
    * must be copied to survive until the oracle replays it. The
    * static tiers pin their write-once store directories instead. */
  private[graft] def writeSnapshots(spark: SparkSession,
      triples: Seq[(Int, Long, Seq[Int])], listsT: String,
      probeSnap: String, memSnap: String): (String, String) = {
    writeProbeSnap(spark, triples, probeSnap)
    spark.table(listsT)
      .select(col("list_id").cast("int").as("list_id"), col("vec_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(memSnap)
    (probeSnap, memSnap)
  }

  /** The pinned-snapshot fusion replay — shared by q75b (static full
    * index, compiled query pack) and s24 (freshly-ingested working
    * index, caller term batch): lexical arm through q74's CTEs
    * (parameterized when a term batch is given — VERDICT r16 #3),
    * semantic arm from the snapshots, q75's RRF. */
  private[graft] def duckFusionOracle(probeSnap: String,
      memSnap: String, memHive: Boolean = false,
      termBatch: Option[Seq[(Int, Seq[String])]] = None): String = {
    def fold(prod: String, n: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, $n + 1), i -> $prod)), " +
        "(a_, x_) -> a_ + x_)"
    s"""
    WITH ${termBatch.map(Q74Bm25.duckLexCtesFor).getOrElse(Q74Bm25.duckLexCtes)},
    lexr AS (SELECT query_id, doc_id,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS lex_rank
          FROM s QUALIFY lex_rank <= ${Rrf.ArmDepth}),
    pp AS (SELECT query_id, pid, list_id FROM read_parquet('$probeSnap/*.parquet')),
    mem AS (${Q19eAnnIvfStore.duckMem(memSnap, memHive)}),
    cand AS (SELECT pp.query_id, pp.pid, m.vec_id AS doc_id
             FROM pp JOIN mem m ON pp.list_id = m.list_id
             WHERE m.vec_id <> pp.pid),
    c AS (SELECT cand.query_id, cand.doc_id,
      ${fold("CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)", "len(e.embedding)")} AS dot,
      ${fold("CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)", "len(e.embedding)")} AS n2,
      ${fold("CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)", "len(q.embedding)")} AS qn2
      FROM cand
      JOIN embeddings e ON e.vec_id = cand.doc_id
      JOIN embeddings q ON q.vec_id = cand.pid),
    sem AS (SELECT query_id, doc_id, dot / (sqrt(n2) * sqrt(qn2)) AS cosine FROM c),
    semr AS (SELECT query_id, doc_id,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id ASC) AS INT) AS sem_rank
          FROM sem QUALIFY sem_rank <= ${Rrf.ArmDepth}),
    fused AS (SELECT COALESCE(l.query_id, m.query_id) AS query_id,
            COALESCE(l.doc_id, m.doc_id) AS doc_id,
            COALESCE(l.lex_rank, 0) AS lex_rank,
            COALESCE(m.sem_rank, 0) AS sem_rank,
            COALESCE(CAST(1 AS DOUBLE) / (${Rrf.RrfK} + l.lex_rank), 0)
              + COALESCE(CAST(1 AS DOUBLE) / (${Rrf.RrfK} + m.sem_rank), 0) AS rrf
          FROM lexr l FULL OUTER JOIN semr m
            ON l.query_id = m.query_id AND l.doc_id = m.doc_id),
    rr AS (SELECT query_id, doc_id, rrf, lex_rank, sem_rank,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
          FROM fused)
    SELECT query_id, rank, doc_id, rrf, lex_rank, sem_rank
    FROM rr WHERE rank <= 10 ORDER BY query_id, rank
    """.trim
  }
}

/** Q75c — THREE-ARM HYBRID FUSION (VERDICT r14 next #4): RRF over
  * lexical BM25, semantic cosine, AND q74e's proximity-boosted
  * ranking — the third signal a production stack adds once it has a
  * positional index (terms NEAR each other outrank the same terms
  * scattered, without requiring phrase order). Each arm is an
  * EXISTING verified tier ranked ArmDepth-deep:
  *
  *  - lexical — the bucket-pruned BM25 store serve
  *    ([[Q74bBm25Store.scoredFrom]], q75b's arm);
  *  - semantic — q75's exact decimal cosine arm verbatim
  *    ([[Q75HybridRrf.semScores]]);
  *  - proximity — q74e's MinDist-boosted frame from the SAME pruned
  *    postings scan family ([[Q74eBm25ProximityBoost.boostedScored]]).
  *
  * All three arms are exact, so unlike q75b this fusion is HASH-GREEN:
  * the oracle stitches the three families' shared CTE chains
  * (duckLexCtes + duckArmCtes + duckProxCtes) and replays the same
  * left-to-right RRF sum — identical IEEE operands and order in both
  * engines. Fusion itself joins three ≤ArmDepth·|Q|-row frames —
  * driver-scale; the corpus-scale work is the two pruned index scans
  * plus one embedding pass. */
object Q75cHybridRrf3 extends GraftQuery {
  val name = "q75c_hybrid_rrf3"
  import Rrf.{ArmDepth, RrfK}

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (postT, lenT, metaT) = Q74bBm25Store.ensureStore(spark, dir)
    val lex = Q74Bm25.topK(
        Q74bBm25Store.scoredFrom(spark, postT, lenT, metaT), ArmDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val semW = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id").asc)
    val sem = Q75HybridRrf.semScores(spark, dir)
      .withColumn("sem_rank", row_number().over(semW))
      .filter(col("sem_rank") <= ArmDepth)
      .select(col("query_id"), col("doc_id"), col("sem_rank"))
    val proxW = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val prox = Q74eBm25ProximityBoost.boostedScored(spark, postT, lenT, metaT)
      .withColumn("prox_rank", row_number().over(proxW))
      .filter(col("prox_rank") <= ArmDepth)
      .select(col("query_id"), col("doc_id"), col("prox_rank"))
    // Three-way full outer on (query, doc); absent arms contribute 0 —
    // the shared tail ([[Rrf.fuse3]], also q75d's).
    Rrf.fuse3(lex, sem, prox)
  }

  /** The three shared CTE chains + a three-way full-outer fusion. */
  val oracle: Option[String] = Some(s"""
    WITH ${Q74Bm25.duckLexCtes},
    ${Q75HybridRrf.duckArmCtes},
    ${Q74eBm25ProximityBoost.duckProxCtes},
    proxr AS (SELECT query_id, doc_id,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS prox_rank
          FROM boosted QUALIFY prox_rank <= $ArmDepth),
    f1 AS (SELECT COALESCE(l.query_id, m.query_id) AS query_id,
            COALESCE(l.doc_id, m.doc_id) AS doc_id,
            l.lex_rank, m.sem_rank
          FROM lexr l FULL OUTER JOIN semr m
            ON l.query_id = m.query_id AND l.doc_id = m.doc_id),
    fused AS (SELECT COALESCE(f.query_id, x.query_id) AS query_id,
            COALESCE(f.doc_id, x.doc_id) AS doc_id,
            COALESCE(f.lex_rank, 0) AS lex_rank,
            COALESCE(f.sem_rank, 0) AS sem_rank,
            COALESCE(x.prox_rank, 0) AS prox_rank,
            COALESCE(CAST(1 AS DOUBLE) / ($RrfK + f.lex_rank), 0)
              + COALESCE(CAST(1 AS DOUBLE) / ($RrfK + f.sem_rank), 0)
              + COALESCE(CAST(1 AS DOUBLE) / ($RrfK + x.prox_rank), 0) AS rrf
          FROM f1 f FULL OUTER JOIN proxr x
            ON f.query_id = x.query_id AND f.doc_id = x.doc_id),
    rr AS (SELECT query_id, doc_id, rrf, lex_rank, sem_rank, prox_rank,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
          FROM fused)
    SELECT query_id, rank, doc_id, rrf, lex_rank, sem_rank, prox_rank
    FROM rr WHERE rank <= 10 ORDER BY query_id, rank
  """.trim)
}

/** Q75d — THREE-ARM FUSION OVER DRIVER-PROVIDED QUERY TABLES (VERDICT
  * r15 #1): the fusion family's production entry point. q75c fuses
  * the compiled-in query set; a search service receives each batch as
  * DATA — a (query_id, word) term table from the query analyzer and a
  * (query_id, qv) vector table from the query encoder. [[fuseFor]]
  * accepts exactly that pair of tables and drives all three arms
  * from it:
  *
  *  - lexical — the bucket-pruned BM25 store serve over the term
  *    table ([[graft.queries.Q74bBm25Store.scoredFromQueries]],
  *    q74f's arm);
  *  - semantic — exact decimal cosine over the vector table
  *    ([[Q19hAnnQueryBatch.topKFor]], q19h's arm);
  *  - proximity — q74e's MinDist boost parameterized by the SAME
  *    term batch ([[graft.queries.Q74eBm25ProximityBoost
  *    .boostedScoredFor]]), reading the same bucket-pruned postings
  *    family.
  *
  * The entry replays a batch DISJOINT from every compiled-in set —
  * q74f's term batch (query_ids 10–13) paired with probe vectors
  * whose vec_id EQUALS the query_id (so q19h's vec_id ≠ query_id
  * self-exclusion rule applies unchanged; disjoint from q19's probe
  * 0, q19h's 5/17/42 and q75's 0–2) — so the parameterization is
  * exercised, not the default. Round16Spec plan-asserts that BOTH
  * postings prunes engage from the dynamic batch
  * (SelectedBucketsCount ≤ |terms| on the lex and prox scans). All
  * three arms are exact ⇒ HASH-GREEN like q75c: the oracle replays
  * the PARAMETERIZED CTE chains (duckLexCtesFor + duckProxCtesFor +
  * a q19h-shaped semantic chain over the same vec ids) and the same
  * left-to-right RRF sum through the shared [[Rrf.fuse3]] tail. */
object Q75dFusionQueryTables extends GraftQuery {
  import NorthStar._
  val name = "q75d_fusion_query_tables"

  /** The term batch — q74f's, shared so the two table-driven serves
    * exercise one fixture. */
  private[graft] val termBatch: Seq[(Int, Seq[String])] =
    Q74fBm25QueryTable.batch
  /** Probe-vector ids: vec_id == query_id (see the self-exclusion
    * note above). */
  private[graft] val vecIds: Seq[Long] = termBatch.map(_._1.toLong)

  /** The fused serve over caller-provided term + vector tables. The
    * prox arm needs the batch as a driver value (its qterms carry a
    * per-term tag) — a query batch is driver-scale by contract (the
    * scoredFromQueries rule), so the pairs collect once. */
  private[graft] def fuseFor(spark: SparkSession, dir: String,
      postT: String, lenT: String, metaT: String,
      terms: DataFrame, vecs: DataFrame): DataFrame = {
    val lex = Q74Bm25.topK(
        Q74bBm25Store.scoredFromQueries(spark, postT, lenT, metaT, terms),
        Rrf.ArmDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val sem = Q19hAnnQueryBatch.topKFor(spark,
        Tables.embeddings(spark, dir), vecs, Rrf.ArmDepth)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").as("sem_rank"))
    val pairs = terms.select(col("query_id"), col("word")).distinct()
      .collect().map(r => (r.getInt(0), r.getString(1)))
    val qs = pairs.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (q, ws) => (q, ws.map(_._2).sorted.toSeq) }
    val proxW = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val prox = Q74eBm25ProximityBoost
      .boostedScoredFor(spark, postT, lenT, metaT, qs)
      .withColumn("prox_rank", row_number().over(proxW))
      .filter(col("prox_rank") <= Rrf.ArmDepth)
      .select(col("query_id"), col("doc_id"), col("prox_rank"))
    Rrf.fuse3(lex, sem, prox)
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (postT, lenT, metaT) = Q74bBm25Store.ensureStore(spark, dir)
    val terms = Q74fBm25QueryTable.queriesDf(spark)
    val vecs = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(vecIds: _*))
      .select(col("vec_id").cast("int").as("query_id"),
        col("embedding").as("qv"))
    fuseFor(spark, dir, postT, lenT, metaT, terms, vecs)
  }

  /** The parameterized CTE chains, stitched exactly like q75c's. */
  val oracle: Option[String] = Some {
    def d(x: String) = NorthStar.duckDec(x)
    s"""
    WITH ${Q74Bm25.duckLexCtesFor(termBatch)},
    ${Q74eBm25ProximityBoost.duckProxCtesFor(termBatch)},
    lexr AS (SELECT query_id, doc_id,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS lex_rank
          FROM s QUALIFY lex_rank <= ${Rrf.ArmDepth}),
    proxr AS (SELECT query_id, doc_id,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS prox_rank
          FROM boosted QUALIFY prox_rank <= ${Rrf.ArmDepth}),
    sprobes AS (SELECT CAST(vec_id AS INT) AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id IN (${vecIds.mkString(", ")})),
    sc AS (SELECT sp.query_id, e.vec_id AS doc_id,
      list_aggregate(list_transform(range(1, len(e.embedding)+1), i -> ${d("e.embedding[i]")} * ${d("sp.qv[i]")}), 'sum') AS dot,
      list_aggregate(list_transform(range(1, len(e.embedding)+1), i -> ${d("e.embedding[i]")} * ${d("e.embedding[i]")}), 'sum') AS n2,
      list_aggregate(list_transform(range(1, len(sp.qv)+1), i -> ${d("sp.qv[i]")} * ${d("sp.qv[i]")}), 'sum') AS qn2
      FROM embeddings e, sprobes sp WHERE e.vec_id <> sp.query_id),
    sem AS (SELECT query_id, doc_id,
            ${NorthStar.duckDbl("dot")} / (sqrt(${NorthStar.duckDbl("n2")}) * sqrt(${NorthStar.duckDbl("qn2")})) AS cosine
          FROM sc),
    semr AS (SELECT query_id, doc_id,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id ASC) AS INT) AS sem_rank
          FROM sem QUALIFY sem_rank <= ${Rrf.ArmDepth}),
    f1 AS (SELECT COALESCE(l.query_id, m.query_id) AS query_id,
            COALESCE(l.doc_id, m.doc_id) AS doc_id,
            l.lex_rank, m.sem_rank
          FROM lexr l FULL OUTER JOIN semr m
            ON l.query_id = m.query_id AND l.doc_id = m.doc_id),
    fused AS (SELECT COALESCE(f.query_id, x.query_id) AS query_id,
            COALESCE(f.doc_id, x.doc_id) AS doc_id,
            COALESCE(f.lex_rank, 0) AS lex_rank,
            COALESCE(f.sem_rank, 0) AS sem_rank,
            COALESCE(x.prox_rank, 0) AS prox_rank,
            COALESCE(CAST(1 AS DOUBLE) / (${Rrf.RrfK} + f.lex_rank), 0)
              + COALESCE(CAST(1 AS DOUBLE) / (${Rrf.RrfK} + f.sem_rank), 0)
              + COALESCE(CAST(1 AS DOUBLE) / (${Rrf.RrfK} + x.prox_rank), 0) AS rrf
          FROM f1 f FULL OUTER JOIN proxr x
            ON f.query_id = x.query_id AND f.doc_id = x.doc_id),
    rr AS (SELECT query_id, doc_id, rrf, lex_rank, sem_rank, prox_rank,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
          FROM fused)
    SELECT query_id, rank, doc_id, rrf, lex_rank, sem_rank, prox_rank
    FROM rr WHERE rank <= 10 ORDER BY query_id, rank
  """.trim
  }
}

/** Q76 — CONTRASTIVE TRIPLET MINING: (anchor, positive, negative)
  * training triplets for embedding models, mined from the corpus's
  * own near-dup structure — positives are the MinHash-verified pair
  * graph (q18b, est_jaccard ≥ 0.5, both orientations), negatives are
  * deterministic hashed-bucket samples that are provably NOT
  * near-dups of the anchor. The op that turns a dedup pipeline's
  * byproduct into contrastive training data.
  *
  * Negative sampling, relationally: every doc lands in one of B
  * hash buckets (one corpus pass, portable md5-fold hash); each
  * triplet probes the bucket its (anchor, positive) hash picks,
  * drops anchor/positive/near-dup-of-anchor candidates, and takes
  * the candidate with the smallest per-triplet pick hash — a
  * deterministic pseudo-random draw both engines replay bit-for-bit
  * (the shingleHashExpr md5 technique; no engine-local RNG). B is a
  * fixture constant here; production sizes B ∝ corpus so the probe
  * join's bucket width (N/B rows per triplet) stays constant.
  *
  * Scale shape: pair graph = q18b's banded pipeline (never
  * all-pairs); bucket table = one map pass; probe join = triplets ×
  * bucket width; exclusion = one anti-join against the pair list. */
object Q76ContrastiveTriplets extends GraftQuery {
  import NorthStar._
  val name = "q76_contrastive_triplets"
  private val B = 64
  /** Portable 60-bit hash (Spark side): conv(md5 hex prefix) — the
    * cross-engine pattern shingleHashExpr established. */
  private def h(x: String) =
    s"cast(conv(substring(md5($x), 1, 15), 16, 10) as bigint)"
  /** Same value in DuckDB: hex-fold of the md5 prefix. */
  private def duckH(x: String) =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       list_transform(string_split(substr(md5($x), 1, 15), ''),
         c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
       (acc_, y_) -> acc_ * 16 + y_)"""

  def run(spark: SparkSession, dir: String): DataFrame = {
    val sh = NorthStar.shingleSets(spark, dir)
    // Reused twice (triplet seed + exclusion anti-join): checkpoint
    // so the banded pipeline runs once (the q74 tf-barrier rule).
    val pairs = Q18bDedupMinHash.pairsFrom(sh)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .localCheckpoint(true)
    fromPairs(spark, dir, pairs)
  }

  /** The random-negative tier over an already-materialized pair
    * frame — factored out (r19) so the backfilled tier (q76c) can
    * run BOTH tiers off ONE banded-pipeline execution instead of
    * re-deriving the shingle→MinHash→pair chain per tier. */
  private[queries] def fromPairs(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val tri = pairs.select(col("doc_a").as("anchor"),
        col("doc_b").as("positive"), col("est_jaccard").as("pos_sim"))
      .union(pairs.select(col("doc_b").as("anchor"),
        col("doc_a").as("positive"), col("est_jaccard").as("pos_sim")))
      .withColumn("bucket", expr(
        s"${h("concat(cast(anchor as string), ':', cast(positive as string))")} % $B"))
    val docs = Tables.documents(spark, dir).select(col("doc_id").as("cand"))
      .withColumn("bucket", expr(s"${h("cast(cand as string)")} % $B"))
    val cands = tri.join(docs, Seq("bucket"))
      .filter(col("cand") =!= col("anchor") && col("cand") =!= col("positive"))
      .join(pairs.select(col("doc_a"), col("doc_b")),
        least(col("cand"), col("anchor")) === col("doc_a") &&
          greatest(col("cand"), col("anchor")) === col("doc_b"), "left_anti")
      .withColumn("pick", expr(h(
        "concat(cast(cand as string), ':', cast(anchor as string), ':', cast(positive as string))")))
    val w = Window.partitionBy(col("anchor"), col("positive"))
      .orderBy(col("pick"), col("cand"))
    cands.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("anchor"), col("positive"), col("pos_sim"),
        col("cand").as("negative"))
      .orderBy(col("anchor"), col("positive"))
  }

  /** DuckDB CTE chain (appended after the shingle+pair chains)
    * ending in `randr(anchor, positive, pos_sim, negative, rn)` —
    * the bucket-draw negative; shared with the backfilled tier
    * (q76c) so the sampling can never drift. */
  private[queries] lazy val duckRandCtes: String = s"""tri AS (SELECT doc_a AS anchor, doc_b AS positive, est_jaccard AS pos_sim FROM pairs
            UNION ALL SELECT doc_b, doc_a, est_jaccard FROM pairs),
    trib AS (SELECT anchor, positive, pos_sim,
            ${duckH("CAST(anchor AS VARCHAR) || ':' || CAST(positive AS VARCHAR)")} % $B AS bucket
          FROM tri),
    docsb AS (SELECT doc_id AS cand, ${duckH("CAST(doc_id AS VARCHAR)")} % $B AS bucket
          FROM documents),
    cands AS (SELECT t.anchor, t.positive, t.pos_sim, d.cand,
            ${duckH("CAST(d.cand AS VARCHAR) || ':' || CAST(t.anchor AS VARCHAR) || ':' || CAST(t.positive AS VARCHAR)")} AS pick
          FROM trib t JOIN docsb d ON t.bucket = d.bucket
          WHERE d.cand <> t.anchor AND d.cand <> t.positive
            AND NOT EXISTS (SELECT 1 FROM pairs p
              WHERE p.doc_a = least(d.cand, t.anchor)
                AND p.doc_b = greatest(d.cand, t.anchor))),
    randr AS (SELECT anchor, positive, pos_sim, cand AS negative,
            row_number() OVER (PARTITION BY anchor, positive ORDER BY pick, cand) AS rn
          FROM cands)"""

  val oracle = Some(s"""
    WITH ${NorthStar.duckShingleCtes},
    ${NorthStar.duckMinhashPairCtes},
    $duckRandCtes
    SELECT anchor, positive, pos_sim, negative FROM randr WHERE rn = 1
    ORDER BY anchor, positive
  """.trim)
}

/** Q76b — HARD-NEGATIVE MINING: q76's triplets with the negative
  * chosen ADVERSARIALLY instead of at random — the highest-cosine
  * embedding neighbor of the anchor (q18e's sign-blocked candidate
  * pipeline, threshold 0.2) that is NOT a text near-dup of it. Hard
  * negatives are what make contrastive training data effective: the
  * model learns the boundary between "similar" and "same". Anchors
  * whose block yields no valid candidate are dropped (this tier
  * surfaces hard triplets; q76 is the guaranteed-coverage tier).
  *
  * Scale shape: candidates come from the SIGN-BLOCKED cosine join
  * (never all-pairs — q18e's posture); exclusion is one anti-join
  * against the banded pair list; the argmax is a per-(anchor,
  * positive) window over block-width rows. Determinism: cosine is
  * the exact-decimal chain (q18e-proven engine-exact), ties break on
  * doc_id. */
object Q76bHardNegatives extends GraftQuery {
  import NorthStar._
  val name = "q76b_hard_negatives"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val sh = NorthStar.shingleSets(spark, dir)
    val pairs = Q18bDedupMinHash.pairsFrom(sh)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .localCheckpoint(true)
    fromPairs(spark, dir, pairs)
  }

  /** Hard-negative tier over a materialized pair frame (r19) — see
    * [[Q76ContrastiveTriplets.fromPairs]]; q76c shares one pair
    * execution across both tiers. */
  private[queries] def fromPairs(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val tri = pairs.select(col("doc_a").as("anchor"),
        col("doc_b").as("positive"), col("est_jaccard").as("pos_sim"))
      .union(pairs.select(col("doc_b").as("anchor"),
        col("doc_a").as("positive"), col("est_jaccard").as("pos_sim")))
    val cos = Q18eDedupEmbedding.cosPairs(spark, dir)
    val cands = cos.select(col("vec_a").as("anchor"), col("vec_b").as("cand"),
        col("cosine"))
      .union(cos.select(col("vec_b").as("anchor"), col("vec_a").as("cand"),
        col("cosine")))
    val hc = tri.join(cands, Seq("anchor"))
      .filter(col("cand") =!= col("positive"))
      .join(pairs.select(col("doc_a"), col("doc_b")),
        least(col("cand"), col("anchor")) === col("doc_a") &&
          greatest(col("cand"), col("anchor")) === col("doc_b"), "left_anti")
    val w = Window.partitionBy(col("anchor"), col("positive"))
      .orderBy(col("cosine").desc, col("cand").asc)
    hc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("anchor"), col("positive"), col("pos_sim"),
        col("cand").as("negative"), col("cosine").as("neg_cos"))
      .orderBy(col("anchor"), col("positive"))
  }

  val oracle = Some {
    s"""
    WITH ${NorthStar.duckShingleCtes},
    ${NorthStar.duckMinhashPairCtes},
    $duckHardCtes
    SELECT anchor, positive, pos_sim, negative, neg_cos FROM hardr WHERE rn = 1
    ORDER BY anchor, positive
  """.trim
  }

  /** DuckDB CTE chain (appended after the shingle+pair chains, brings
    * its own renamed embedding-cosine chain) ending in
    * `hardr(anchor, positive, pos_sim, negative, neg_cos, rn)` —
    * shared with the backfilled tier (q76c). Defines `htri`
    * (duckRandCtes defines `tri` with the same body; distinct names
    * let q76c assemble both chains in one WITH). */
  private[queries] lazy val duckHardCtes: String = {
    val embCtes = Q18eDedupEmbedding.duckEmbCosCtes
      .replaceAll("\\bcand\\b", "ecand")
    s"""$embCtes,
    htri AS (SELECT doc_a AS anchor, doc_b AS positive, est_jaccard AS pos_sim FROM pairs
            UNION ALL SELECT doc_b, doc_a, est_jaccard FROM pairs),
    ccands AS (SELECT vec_a AS anchor, vec_b AS cnd, cosine FROM cos WHERE cosine >= 0.2
               UNION ALL SELECT vec_b, vec_a, cosine FROM cos WHERE cosine >= 0.2),
    hc AS (SELECT t.anchor, t.positive, t.pos_sim, c.cnd, c.cosine
          FROM htri t JOIN ccands c ON c.anchor = t.anchor
          WHERE c.cnd <> t.positive
            AND NOT EXISTS (SELECT 1 FROM pairs p
              WHERE p.doc_a = least(c.cnd, t.anchor)
                AND p.doc_b = greatest(c.cnd, t.anchor))),
    hardr AS (SELECT anchor, positive, pos_sim, cnd AS negative, cosine AS neg_cos,
            row_number() OVER (PARTITION BY anchor, positive ORDER BY cosine DESC, cnd ASC) AS rn
          FROM hc)"""
  }
}

/** Q76c — BACKFILLED triplets: the hard tier (q76b) where the sign
  * block yields a valid adversarial negative, q76's guaranteed
  * bucket draw everywhere else — the production shape (hard
  * negatives when the geometry offers them, coverage always), with
  * the chosen tier surfaced per row. Pure composition of the two
  * verified tiers: hard rows pass through, random rows backfill via
  * one anti-join on (anchor, positive). SHARES the two tiers' oracle
  * chains verbatim (duckHardCtes + duckRandCtes in one WITH), so the
  * composed gate can only pass if both components and the stitching
  * agree. */
object Q76cTripletsBackfilled extends GraftQuery {
  import NorthStar._
  val name = "q76c_triplets_backfilled"
  def run(spark: SparkSession, dir: String): DataFrame = {
    // ONE banded pipeline for both tiers (r19): previously each tier's
    // run() re-derived shingles→MinHash→pairs from the corpus — the
    // composed query paid the chain twice. `hard` is additionally
    // checkpointed because the final union references it twice
    // (passthrough + the backfill anti-join), which would otherwise
    // re-run the hard tier's window join per reference.
    val sh = NorthStar.shingleSets(spark, dir)
    val pairs = Q18bDedupMinHash.pairsFrom(sh)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .localCheckpoint(true)
    val hard = Q76bHardNegatives.fromPairs(spark, dir, pairs)
      .select(col("anchor"), col("positive"), col("pos_sim"),
        col("negative"), lit("hard").as("tier"))
      .localCheckpoint(true)
    val rand = Q76ContrastiveTriplets.fromPairs(spark, dir, pairs)
      .select(col("anchor"), col("positive"), col("pos_sim"),
        col("negative"), lit("random").as("tier"))
    hard.union(rand.join(hard.select(col("anchor"), col("positive")),
        Seq("anchor", "positive"), "left_anti"))
      .orderBy(col("anchor"), col("positive"))
  }
  val oracle = Some(s"""
    WITH ${NorthStar.duckShingleCtes},
    ${NorthStar.duckMinhashPairCtes},
    ${Q76bHardNegatives.duckHardCtes},
    ${Q76ContrastiveTriplets.duckRandCtes},
    hard1 AS (SELECT anchor, positive, pos_sim, negative, 'hard' AS tier
              FROM hardr WHERE rn = 1),
    rand1 AS (SELECT anchor, positive, pos_sim, negative, 'random' AS tier
              FROM randr WHERE rn = 1)
    SELECT anchor, positive, pos_sim, negative, tier FROM hard1
    UNION ALL
    SELECT r.anchor, r.positive, r.pos_sim, r.negative, r.tier FROM rand1 r
    WHERE NOT EXISTS (SELECT 1 FROM hard1 h
      WHERE h.anchor = r.anchor AND h.positive = r.positive)
    ORDER BY anchor, positive
  """.trim)
}

/** Q20 — top-5 terms per language by term frequency (Q1's tokenizer +
  * normalizer, then a ranking window over the per-lang counts). */
object Q20TopTermsPerLang extends GraftQuery {
  val name = "q20_top_terms_per_lang"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val tf = InvertedIndex.words(Tables.documents(spark, dir), "lang")
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("lang")).orderBy(col("tf").desc, col("word").asc)
    tf.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("rn"), col("word"), col("tf"))
      .orderBy(col("lang"), col("rn"))
  }
  val oracle = Some(raw"""
    WITH toks AS (
      SELECT lang, lower(regexp_replace(unnest(string_split_regex(text, '\s+')), '[^a-zA-Z]', '', 'g')) AS word
      FROM documents),
    tf AS (SELECT lang, word, count(*) AS tf FROM toks WHERE word <> '' GROUP BY lang, word),
    r AS (SELECT lang, word, tf,
          CAST(row_number() OVER (PARTITION BY lang ORDER BY tf DESC, word ASC) AS INT) AS rn FROM tf)
    SELECT lang, rn, word, tf FROM r WHERE rn <= 5 ORDER BY lang, rn
  """.trim)
}

/** Q21 — language identification by marker-word voting: count tokens
  * (with multiplicity) hitting each language's closed marker list;
  * predict the alphabetically-first language achieving the max score.
  * Entirely per-row (codegen'd HOFs) — zero shuffles before the
  * final ORDER BY. */
object Q21LanguageId extends GraftQuery {
  import NorthStar._
  val name = "q21_language_id"
  private val markers = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "fr" -> Seq("le", "les", "et", "est", "un"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai"))
  def run(spark: SparkSession, dir: String): DataFrame = {
    // Everything derived from the token array is computed inside ONE
    // generator expression with nested let() bindings: `tk` (the
    // tokenization), `sc` (the five marker scores), and `m` (their
    // max) are each lambda-bound, so each is evaluated exactly once
    // per row no matter how many times the body references it —
    // CollapseProject cannot re-inline a lambda variable. The
    // inline(array(...)) generator then flattens the struct to
    // columns WITHOUT a projection that would re-trigger the
    // collapse (the q18c lesson, applied shuffle-free).
    val scores = markers.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("array(", ", ", ")")
      s"'score_$l', size(filter(tk, w_ -> array_contains($arr, w_)))"
    }.mkString("named_struct(", ", ", ")")
    // 'de'-first WHEN chain = alphabetical priority on score ties
    val whenChain = markers.map { case (l, _) => s"WHEN sc.score_$l = m THEN '$l'" }.mkString(" ")
    val outStruct = "named_struct('predicted', " +
      s"CASE WHEN m = 0 THEN 'und' $whenChain ELSE 'und' END, " +
      markers.map { case (l, _) => s"'score_$l', sc.score_$l" }.mkString(", ") + ")"
    val body = let("tk", toksExpr,
      let("sc", scores,
        let("m", "greatest(sc.score_de, sc.score_en, sc.score_es, sc.score_fr, sc.score_zh)",
          outStruct)))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), inline(array(expr(body))))
      .orderBy(col("doc_id"))
  }
  private def duckScore(ws: Seq[String]): String = {
    val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(t, tok -> list_contains($arr, tok)))"
  }
  val oracle = Some {
    val scores = markers.map { case (l, ws) => s"${duckScore(ws)} AS score_$l" }.mkString(",\n          ")
    val m = markers.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
    val chain = markers.map { case (l, _) => s"WHEN score_$l = $m THEN '$l'" }.mkString(" ")
    s"""
    WITH s AS (SELECT doc_id, lang,
          $scores
        FROM (SELECT doc_id, lang, $duckToks AS t FROM documents))
    SELECT doc_id, lang,
      CASE WHEN $m = 0 THEN 'und' $chain ELSE 'und' END AS predicted,
      ${markers.map { case (l, _) => s"CAST(score_$l AS INT) AS score_$l" }.mkString(", ")}
    FROM s ORDER BY doc_id
    """.trim
  }
}

/** Q22 — document quality scoring: token/char counts, type-token
  * ratio, stopword ratio, punctuation ratio, mean token length, and a
  * composite score. All ratios are single IEEE divisions of exact
  * integer counts; the composite keeps one identical expression tree
  * in both engines. Per-row → shuffle-free until the ORDER BY. */
object Q22QualityScore extends GraftQuery {
  import NorthStar._
  val name = "q22_quality_score"
  private val stop = Seq("the", "a", "of", "and", "is", "to", "in")
    .map(w => s"'$w'").mkString("array(", ", ", ")")
  private def build(spark: SparkSession, dir: String): DataFrame = {
    // Single generator expression with nested let() bindings (same
    // shape as Q21): `tk` (tokens), `c` (the six integer counts), and
    // `r` (the four ratios) are lambda-bound so each is evaluated once
    // per row — the previous withColumn chain let CollapseProject
    // re-tokenize at every downstream reference. Rows with zero
    // tokens are filtered AFTER the inline, so the ratio divisors go
    // through nullif: under Spark 4's default ANSI mode a literal /0
    // would ABORT the query for an empty document, while /null yields
    // null rows that the n_tokens > 0 filter then drops.
    val counts = "named_struct(" +
      "'n_tokens', size(tk), " +
      "'n_chars', length(text), " +
      "'n_uniq', size(array_distinct(tk)), " +
      "'sum_tok_len', aggregate(tk, 0, (acc, x_) -> acc + length(x_)), " +
      s"'stop_hits', size(filter(tk, w_ -> array_contains($stop, w_))), " +
      "'n_punct', length(regexp_replace(text, '[a-z0-9\\\\s]', '')))"
    val ratios = "named_struct(" +
      "'ttr', cast(c.n_uniq as double) / nullif(c.n_tokens, 0), " +
      "'mtl', cast(c.sum_tok_len as double) / nullif(c.n_tokens, 0), " +
      "'swr', cast(c.stop_hits as double) / nullif(c.n_tokens, 0), " +
      "'pr', cast(c.n_punct as double) / nullif(c.n_chars, 0))"
    val outStruct = "named_struct(" +
      "'n_tokens', c.n_tokens, 'n_chars', c.n_chars, " +
      "'type_token_ratio', r.ttr, 'mean_token_len', r.mtl, " +
      "'stopword_ratio', r.swr, 'punct_ratio', r.pr, " +
      "'quality', r.ttr * cast(0.4 as double) + r.swr * cast(0.3 as double) " +
        "+ (cast(1.0 as double) - r.pr) * cast(0.3 as double))"
    val body = let("tk", toksExpr, let("c", counts, let("r", ratios, outStruct)))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), inline(array(expr(body))))
      .filter(col("n_tokens") > 0)
  }

  /** Unordered scored frame for composition (q42 joins it). */
  private[queries] def scored(spark: SparkSession, dir: String): DataFrame =
    build(spark, dir)

  def run(spark: SparkSession, dir: String): DataFrame =
    build(spark, dir).orderBy(col("doc_id"))
  val oracle = Some(s"""
    WITH ${NorthStar.duckQualityCtes}
    SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens, CAST(n_chars AS INT) AS n_chars,
      CAST(n_uniq AS DOUBLE) / n_tokens AS type_token_ratio,
      CAST(sum_tok_len AS DOUBLE) / n_tokens AS mean_token_len,
      CAST(stop_hits AS DOUBLE) / n_tokens AS stopword_ratio,
      CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
      quality
    FROM qq ORDER BY doc_id
  """.trim)
}

/** Q23 — token counting per source: whitespace tokens + a BPE-ish
  * regex segmentation ([a-z]+ | digit runs | single punctuation),
  * aggregated per source. One narrow pass + one tiny groupBy. */
object Q23TokenCount extends GraftQuery {
  import NorthStar._
  val name = "q23_token_count"
  private val bpeish = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        size(expr(toksExpr)).as("ws"),
        size(regexp_extract_all(col("text"), lit(bpeish), lit(0))).as("bpe"),
        length(col("text")).as("chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws").cast("long")).as("sum_ws_tokens"),
        sum(col("bpe").cast("long")).as("sum_bpe_tokens"),
        sum(col("chars").cast("long")).as("sum_chars"),
        (sum(col("ws").cast("long")).cast("double") / count(lit(1))).as("avg_ws_tokens"))
      .orderBy(col("source"))
  val oracle = Some(raw"""
    WITH c AS (
      SELECT source,
        len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS ws,
        len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe,
        length(text) AS chars
      FROM documents)
    SELECT source, count(*) AS n_docs,
      CAST(SUM(CAST(ws AS BIGINT)) AS BIGINT) AS sum_ws_tokens,
      CAST(SUM(CAST(bpe AS BIGINT)) AS BIGINT) AS sum_bpe_tokens,
      CAST(SUM(CAST(chars AS BIGINT)) AS BIGINT) AS sum_chars,
      CAST(SUM(CAST(ws AS BIGINT)) AS DOUBLE) / count(*) AS avg_ws_tokens
    FROM c GROUP BY source ORDER BY source
  """.trim)
}

/** Q43 — bigram language-model counts: top-5 consecutive token pairs
  * per lang (count desc, bigram asc). The pair stream is generated
  * per row with zip_with over two slices (no self-join, no
  * re-tokenization — `tk` is let-bound once); one shuffle for the
  * (lang, bigram) count, one for the per-lang ranking window. The
  * n-gram count table is the first stage of classic LM pipelines. */
object Q43TopBigrams extends GraftQuery {
  import NorthStar._
  val name = "q43_top_bigrams"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = let("tk", toksExpr,
      "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), " +
        "(a, b) -> concat(a, ' ', b))")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("bigram").asc)
    Tables.documents(spark, dir)
      .filter(size(expr(toksExpr)) >= 2)
      .select(col("lang"), explode(expr(bigrams)).as("bigram"))
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .orderBy(col("lang"), col("rk"))
  }
  val oracle = Some(raw"""
    WITH d AS (SELECT lang, $duckToks AS t FROM documents),
    b AS (SELECT lang, t[i] || ' ' || t[i + 1] AS bigram
          FROM d, unnest(range(1, len(t))) AS u(i)
          WHERE len(t) >= 2),
    g AS (SELECT lang, bigram, count(*) AS n FROM b GROUP BY lang, bigram),
    r AS (SELECT lang, bigram, n,
          CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram ASC) AS INT) AS rk
          FROM g)
    SELECT lang, bigram, n, rk FROM r WHERE rk <= 5 ORDER BY lang, rk
  """.trim)
}

/** Q44 — per-source contribution cap: keep at most K documents per
  * source, selected by md5(doc_id) order — the deterministic
  * "random" sample (q40's key trick) that caps any one source's
  * share of a training mix without rand()'s irreproducibility. One
  * ranking window per source; at 100 TB this is the anti-skew gate
  * run before expensive downstream passes. */
object Q44SourceCap extends GraftQuery {
  val name = "q44_source_cap"
  private val Cap = 20
  def run(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("rk") <= Cap, 1L).otherwise(0L)).as("n_kept"),
        array_join(sort_array(collect_list(
          when(col("rk") <= Cap, col("doc_id")))), " ").as("kept_ids"))
      .orderBy(col("source"))
  }
  val oracle = Some(s"""
    WITH r AS (SELECT source, doc_id,
          row_number() OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents)
    SELECT source, count(*) AS n_total,
      CAST(SUM(CASE WHEN rk <= $Cap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      array_to_string(list_sort(list(doc_id) FILTER (WHERE rk <= $Cap)), ' ') AS kept_ids
    FROM r GROUP BY source ORDER BY source
  """.trim)
}

/** Q45 — token-budget shard packing: documents packed (in doc_id
  * order, per lang) into shards of ~1000 whitespace tokens via an
  * exclusive running sum — `shard = floor((cum - tokens) / budget)`,
  * all integer arithmetic, so both engines agree exactly. This is
  * the sequence-packing / shard-sizing step of a pretraining
  * pipeline; partitioning by lang keeps the window parallel (at
  * 100 TB you pack per source shard, never globally). */
object Q45TokenPacking extends GraftQuery {
  import NorthStar._
  val name = "q45_token_packing"
  private val Budget = 1000L
  def run(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        size(expr(toksExpr)).cast("long").as("tokens"))
      .withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("shard", expr(s"(cum - tokens) div $Budget"))
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("shard"))
  }
  val oracle = Some(raw"""
    WITH d AS (SELECT lang, doc_id, CAST(len($duckToks) AS BIGINT) AS tokens
               FROM documents),
    c AS (SELECT lang, doc_id, tokens,
          CAST(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM d)
    SELECT lang, (cum - tokens) // $Budget AS shard, count(*) AS n_docs,
      CAST(SUM(tokens) AS BIGINT) AS total_tokens,
      min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY lang, shard ORDER BY lang, shard
  """.trim)
}

/** Q46 — eval-set decontamination: detect test-split documents leaking
  * into the train split via shared word 5-grams — the pass every
  * training-data pipeline runs before a model ever sees the corpus
  * (an eval question paraphrased inside a train document inflates
  * benchmark scores without improving the model). The split is q40's
  * deterministic md5-nibble key ([[Q40TrainTestSplit.splitCol]]), so
  * the same document lands in the same split here and in q40.
  *
  * Dataflow (blocked join, never all-pairs): each split's documents
  * explode to distinct word-5-gram rows keyed by md5(gram) — at
  * 100 TB you ship the 128-bit hash through the shuffle, not the
  * 5-word string — then train×test candidates come from ONE equi-join
  * on the hash key and aggregate to (train_doc, eval_doc,
  * n_shared_ngrams). Per train doc the strongest match wins
  * (n desc, eval_doc asc — deterministic), and the verdict is
  * `contaminated` iff ≥ [[Q46Decontaminate.MinShared]] distinct
  * 5-grams are shared: one shared 5-gram between independent docs is
  * plausible boilerplate, a run of them is copied text. The at-scale
  * gram-DF cap (drop grams shared by many documents — boilerplate
  * that adds join skew, not signal) is the [[Q46bDecontaminateDfCap]]
  * variant; this query is the uncapped definition. */
object Q46Decontaminate extends GraftQuery {
  import NorthStar._
  val name = "q46_decontaminate"
  /** Shared distinct 5-grams at or above this → contaminated. */
  private[queries] val MinShared = 3
  /** Distinct word 5-shingles of token array `t` (needs size(t) ≥ 5);
    * the 3-gram analogue of [[NorthStar.shinglesExpr]]. */
  private val fiveGramExpr =
    "array_distinct(transform(IF(size(t) < 5, array(), sequence(1, size(t)-4)), " +
      "i -> concat_ws(' ', element_at(t,i), element_at(t,i+1), " +
      "element_at(t,i+2), element_at(t,i+3), element_at(t,i+4))))"
  /** One pass over the corpus → (doc_id, split, gh) gram-hash rows;
    * `t` is let-bound so CollapseProject can't re-tokenize per gram
    * index. Shared with the DF-capped variant.
    *
    * localCheckpoint is the materialization barrier (q57's pattern):
    * `verdicts` filters this frame on BOTH sides of the train×test
    * join and q46b's cap path adds a third reference, with different
    * pushed filters each — exchange reuse can't apply, so without the
    * barrier the tokenize + 5-gram explode + md5 corpus pass ran once
    * PER BRANCH (2× in q46, 3× in q46b — a full duplicate corpus scan
    * at 100 TB). What's stored is the gram-hash rows (doc_id, split,
    * 32-hex gh — never the 5-word strings, never text), in
    * MEMORY_AND_DISK blocks that spill rather than OOM. */
  private[graft] def gramFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", Q40TrainTestSplit.splitCol)
      .select(col("doc_id"), col("split"), expr(toksExpr).as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), col("split"),
        explode(expr(let("t", "t", fiveGramExpr))).as("g"))
      .select(col("doc_id"), col("split"), md5(col("g")).as("gh"))
      .localCheckpoint()
  /** Train×test candidate join + per-train-doc verdict over any gram
    * frame (uncapped or DF-capped — the report contract is shared).
    * Unordered: q42b joins this on doc_id, where a pre-join sort would
    * be wasted work; `report` adds the driver-facing ORDER BY. */
  private[queries] def verdicts(spark: SparkSession, dir: String,
      grams: DataFrame): DataFrame = {
    val shared = grams.filter(col("split") === "train")
      .select(col("doc_id").as("train_doc_id"), col("gh"))
      .join(grams.filter(col("split") === "test")
        .select(col("doc_id").as("eval_doc_id"), col("gh")), "gh")
      .groupBy(col("train_doc_id"), col("eval_doc_id"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("train_doc_id"))
      .orderBy(col("n").desc, col("eval_doc_id").asc)
    val best = shared.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("train_doc_id"),
        col("eval_doc_id").as("matched_eval_doc"), col("n"))
    Tables.documents(spark, dir)
      .withColumn("split", Q40TrainTestSplit.splitCol)
      .filter(col("split") === "train")
      .select(col("doc_id").as("train_doc_id"))
      .join(best, Seq("train_doc_id"), "left")
      .select(col("train_doc_id"), col("matched_eval_doc"),
        coalesce(col("n"), lit(0L)).as("n_shared_ngrams"),
        when(coalesce(col("n"), lit(0L)) >= MinShared, lit("contaminated"))
          .otherwise(lit("clean")).as("verdict"))
  }
  private[queries] def report(spark: SparkSession, dir: String,
      grams: DataFrame): DataFrame =
    verdicts(spark, dir, grams).orderBy(col("train_doc_id"))
  def run(spark: SparkSession, dir: String): DataFrame =
    report(spark, dir, gramFrame(spark, dir))
  /** Decontamination CTE chain ending in `cbest` (per train-doc best
    * eval match). CTE names are c-prefixed so the fragment composes
    * into q42b's oracle next to the shingle/quality/repetition chains
    * (whose names include `toks` and `gdf`) without collisions.
    * `capDf = Some(K)` inserts the same gram-DF filter the Spark side
    * applies, so the two definitions can never drift apart. */
  private[queries] def duckDecontamCtes(capDf: Option[Int]): String = {
    val capCte = capDf.map(k => s""",
    cgdf AS (SELECT gh AS cgh, count(DISTINCT doc_id) AS gram_df
            FROM cgh GROUP BY gh),
    cghk AS (SELECT g.doc_id, g.split, g.gh FROM cgh g
            JOIN cgdf ON g.gh = cgdf.cgh WHERE cgdf.gram_df <= $k)""")
      .getOrElse("")
    val gramSrc = if (capDf.isDefined) "cghk" else "cgh"
    s"""cd AS (SELECT doc_id, text, ${Q40TrainTestSplit.duckSplit} AS split
               FROM documents),
    ctoks AS (SELECT doc_id, split, $duckToks AS t FROM cd),
    cg5 AS (SELECT doc_id, split,
           unnest(list_distinct(list_transform(range(1, len(t)-3),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS g
           FROM ctoks WHERE len(t) >= 5),
    cgh AS (SELECT doc_id, split, md5(g) AS gh FROM cg5)$capCte,
    cshared AS (SELECT tr.doc_id AS train_doc_id, te.doc_id AS eval_doc_id,
               count(*) AS n
               FROM $gramSrc tr JOIN $gramSrc te ON tr.gh = te.gh
               WHERE tr.split = 'train' AND te.split = 'test'
               GROUP BY 1, 2),
    cbest AS (SELECT train_doc_id, eval_doc_id, n,
             row_number() OVER (PARTITION BY train_doc_id
               ORDER BY n DESC, eval_doc_id ASC) AS rk
             FROM cshared)"""
  }
  private[queries] def oracleSqlFor(capDf: Option[Int]): String = s"""
    WITH ${duckDecontamCtes(capDf)}
    SELECT t.doc_id AS train_doc_id, b.eval_doc_id AS matched_eval_doc,
      CAST(COALESCE(b.n, 0) AS BIGINT) AS n_shared_ngrams,
      CASE WHEN COALESCE(b.n, 0) >= $MinShared THEN 'contaminated'
           ELSE 'clean' END AS verdict
    FROM cd t LEFT JOIN (SELECT * FROM cbest WHERE rk = 1) b
      ON t.doc_id = b.train_doc_id
    WHERE t.split = 'train'
    ORDER BY train_doc_id
    """.trim
  val oracle = Some(oracleSqlFor(None))
}

/** Q46b — decontamination with the gram document-frequency cap BUILT,
  * not documented (round-8 verdict item 3): grams appearing in more
  * than [[Q46bDecontaminateDfCap.MaxGramDf]] distinct documents are
  * dropped BEFORE the train×test join. Two reasons, one mechanism:
  *
  *  - scale: a boilerplate gram ("click here to subscribe now")
  *    appearing in 10⁵ train and 10⁴ test docs creates a 10⁹-row
  *    hot key in the equi-join — the classic skew blow-up. Capping DF
  *    removes the key from the shuffle entirely (cheaper than salting
  *    a key whose output is discarded anyway);
  *  - signal: a gram shared by many documents is boilerplate by
  *    definition and says nothing about eval leakage — dropping it
  *    REMOVES false-positive matches, it doesn't approximate.
  *
  * The DF frame is one row per distinct gram (groupBy on the same
  * hash key the join uses — no new shuffle topology), and the filter
  * is an equi-join of the gram rows against the surviving hashes.
  * Cap = 2 because a train↔test leak needs only the leaked pair to
  * share the gram; at fixture scale the corpus's max gram DF is 3, so
  * the cap provably engages (Round9Spec pins the skewed key vanishing
  * from the join input on a boilerplate fixture). At 100 TB the cap
  * would sit in the hundreds; the mechanism is identical. */
object Q46bDecontaminateDfCap extends GraftQuery {
  val name = "q46b_decontaminate_dfcap"
  /** Grams in more than this many distinct docs are boilerplate. */
  private[queries] val MaxGramDf = 2
  /** The join input after the cap — exposed so Round9Spec can assert
    * the boilerplate key is really gone from the shuffle. */
  private[graft] def cappedGrams(spark: SparkSession, dir: String): DataFrame = {
    val grams = Q46Decontaminate.gramFrame(spark, dir)
    val keep = grams.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("gram_df"))
      .filter(col("gram_df") <= MaxGramDf)
      .select(col("gh"))
    grams.join(keep, Seq("gh"))
  }
  def run(spark: SparkSession, dir: String): DataFrame =
    Q46Decontaminate.report(spark, dir, cappedGrams(spark, dir))
  val oracle = Some(Q46Decontaminate.oracleSqlFor(Some(MaxGramDf)))
}

/** Q47 — repetition/boilerplate signals, the quality dimension q22's
  * length/character ratios can't see: a document can be perfectly
  * "well-formed" and still be the same sentence pasted fifty times —
  * the classic low-value boilerplate a pretraining pipeline drops
  * (the Gopher/MassiveText repetition filters). Two signals per doc:
  *
  *  - duplicate-line fraction — share of non-empty trimmed lines that
  *    are repeats of an earlier line (machine-generated pages repeat
  *    whole lines; this fixture's docs are single-line so it reads 0,
  *    but the machinery is exercised and oracle-checked);
  *  - top-bigram share — the fraction of all consecutive-token pairs
  *    taken by the single most frequent bigram (with the bigram
  *    itself, tie-broken lexicographically smallest).
  *
  * Everything is per-row and shuffle-free until the final ORDER BY:
  * the top bigram comes from ONE fold over the row's sorted bigram
  * array (longest run in a sorted array == max multiplicity) — no
  * explode, no per-doc groupBy. Every binding (`tk`, `ln`, `bg`,
  * `tb`) is let()-bound so CollapseProject can't re-tokenize per
  * reference. The oracle computes the same contract relationally
  * (unnest → count → argmax join) — an independent implementation,
  * not a transliteration. `is_repetitive` (top share > 0.10, the
  * empirical tail of this corpus) feeds q42's drop-reason chain. */
object Q47Repetition extends GraftQuery {
  import NorthStar._
  val name = "q47_repetition"
  /** Docs whose top bigram covers more than this share of all bigram
    * slots are flagged repetitive (shared with q42's gate). */
  private[queries] val MaxTopBigramShare = 0.10
  private val bigramsExpr =
    "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), " +
      "(a_, b_) -> concat(a_, ' ', b_))"
  /** Longest run in the SORTED bigram array = (count, value) of the
    * most frequent bigram; first max run wins, which in sorted order
    * is the lexicographically smallest argmax — deterministic. The
    * new run length is let-bound (`r_`) inside the step so it is
    * computed once, not once per struct field. */
  private val topRunExpr =
    "aggregate(array_sort(bg), " +
      "named_struct('prev', '', 'run', 0, 'best', 0, 'arg', ''), " +
      "(acc, x_) -> element_at(transform(" +
      "array(IF(x_ = acc.prev, acc.run + 1, 1)), r_ -> named_struct(" +
      "'prev', x_, 'run', r_, " +
      "'best', IF(r_ > acc.best, r_, acc.best), " +
      "'arg', IF(r_ > acc.best, x_, acc.arg))), 1))"
  private def build(spark: SparkSession, dir: String): DataFrame = {
    val outStruct = "named_struct(" +
      "'n_lines', size(ln), " +
      "'dup_line_frac', cast(size(ln) - size(array_distinct(ln)) as double) " +
        "/ nullif(size(ln), 0), " +
      "'top_bigram', tb.arg, 'top_count', tb.best, " +
      "'n_bigrams', size(bg), " +
      "'top_share', cast(tb.best as double) / nullif(size(bg), 0))"
    val body = let("tk", toksExpr, let("ln", linesExpr,
      let("bg", bigramsExpr, let("tb", topRunExpr, outStruct))))
    // The >= 2 pre-filter runs BEFORE the struct is evaluated (q43's
    // guard): a zero-token document would otherwise feed slice() a
    // negative length and crash the query — empty/blank lines are real
    // inputs (TextCorpus emits one row per line). It also matches the
    // oracle's `WHERE len(t) >= 2` exactly.
    Tables.documents(spark, dir)
      .filter(size(expr(toksExpr)) >= 2)
      .select(col("doc_id"), col("lang"), inline(array(expr(body))))
  }
  /** Unordered signal frame for composition (q42 joins it). */
  private[queries] def signals(spark: SparkSession, dir: String): DataFrame =
    build(spark, dir)
  def run(spark: SparkSession, dir: String): DataFrame =
    build(spark, dir)
      .withColumn("is_repetitive", col("top_share") > MaxTopBigramShare)
      .orderBy(col("doc_id"))
  val oracle = Some(s"""
    WITH ${NorthStar.duckRepetitionCtes}
    SELECT doc_id, lang, n_lines, dup_line_frac, top_bigram, top_count,
      n_bigrams, top_share, top_share > $MaxTopBigramShare AS is_repetitive
    FROM rep ORDER BY doc_id
  """.trim)
}

/** Q48 — weighted mix sampling to a token budget: the step that turns
  * a cleaned corpus into a training MIX. A target share per language
  * (per-mille weights: en 400, others 150 — upsample the headline
  * language, keep the rest balanced) is split evenly across the
  * sources that actually carry that language, giving every
  * (source, lang) cell an integer token target out of one global
  * budget; each cell is then greedily filled in md5(doc_id) order —
  * q40/q44's deterministic "random" — taking documents until the
  * target is crossed (the crossing document is kept, so a cell with
  * any supply always makes progress). Composes q44's capping idea
  * with q45's running-sum packing, but selects TO a target rather
  * than capping or sharding.
  *
  * All target arithmetic is exact BIGINT (budget × weight div
  * 1000 × n_sources) and the fill decision compares exact integer
  * running sums, so both engines agree bit-for-bit; fill_ratio is one
  * IEEE division of exact integers at the end. Scale posture: the
  * fill window partitions by (source, lang) — thousands of
  * independent cells, never a global sort — and the per-lang
  * source-count frame is a broadcast-size join input.
  *
  * The audit columns pin the kept SET with O(1) state per cell:
  * `kept_ids_hash` is the sum of a per-id rolling hash (the same
  * 31-ary mod-1e9+7 fold q24 proves portable across both engines —
  * commutative, so no sorted collect_list), plus `first_kept`/
  * `last_kept` extremes and the existing `n_kept` count. A cell
  * keeping millions of documents at 100 TB costs one BIGINT of
  * aggregation buffer, where the previous `collect_list` audit string
  * built a multi-GB row (round-8 verdict item 6). */
object Q48MixSample extends GraftQuery {
  import NorthStar._
  val name = "q48_mix_sample"
  /** Global token budget the mix is sampled to — deliberately well
    * under the fixture corpus's supply (~27k tokens at sf0.01) so the
    * greedy fill actually SELECTS at the correctness-gate scale
    * instead of keeping every document. */
  private val Budget = 10000L
  /** Per-mille target share per language (`ref` = the lang column,
    * qualified as each dialect's scope needs). */
  private def wCase(ref: String) =
    s"CASE WHEN $ref = 'en' THEN 400 ELSE 150 END"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("doc_id"),
        size(expr(toksExpr)).cast("long").as("tokens"))
    // how many sources carry each language (defines the even split)
    val nSrc = docs.select(col("source"), col("lang")).distinct()
      .groupBy(col("lang")).agg(countDistinct(col("source")).as("n_src"))
    val w = Window.partitionBy(col("source"), col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(nSrc), Seq("lang"))
      .withColumn("target_tokens",
        expr(s"($Budget * (${wCase("lang")})) div (1000 * n_src)"))
      .withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("keep", col("cum") - col("tokens") < col("target_tokens"))
      .withColumn("idh", expr(
        "aggregate(transform(filter(split(cast(doc_id as string), ''), " +
          "c -> c != ''), c -> cast(ascii(c) as bigint)), " +
          "cast(0 as bigint), (acc, x) -> (acc * 31 + x) % 1000000007)"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_avail"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        first(col("target_tokens")).as("target_tokens"),
        sum(when(col("keep"), col("tokens")).otherwise(0L)).as("tokens_kept"),
        (sum(when(col("keep"), col("tokens")).otherwise(0L)).cast("double")
          / nullif(first(col("target_tokens")), lit(0L))).as("fill_ratio"),
        sum(when(col("keep"), col("idh")).otherwise(0L)).as("kept_ids_hash"),
        min(when(col("keep"), col("doc_id"))).as("first_kept"),
        max(when(col("keep"), col("doc_id"))).as("last_kept"))
      .orderBy(col("source"), col("lang"))
  }
  val oracle = Some(raw"""
    WITH d AS (SELECT source, lang, doc_id,
               CAST(len($duckToks) AS BIGINT) AS tokens
               FROM documents),
    ns AS (SELECT lang, count(DISTINCT source) AS n_src FROM d GROUP BY lang),
    t AS (SELECT d.*, ($Budget * (${wCase("d.lang")})) // (1000 * ns.n_src) AS target_tokens
          FROM d JOIN ns ON d.lang = ns.lang),
    c AS (SELECT *, CAST(SUM(tokens) OVER (PARTITION BY source, lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM t),
    k AS (SELECT *, cum - tokens < target_tokens AS keep,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(list_filter(string_split(CAST(doc_id AS VARCHAR), ''),
              c -> c <> ''), c -> CAST(ascii(c) AS BIGINT))),
            (acc, x) -> (acc * 31 + x) % 1000000007) AS idh
          FROM c)
    SELECT source, lang, count(*) AS n_avail,
      CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(any_value(target_tokens) AS BIGINT) AS target_tokens,
      CAST(SUM(CASE WHEN keep THEN tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
      CAST(SUM(CASE WHEN keep THEN tokens ELSE 0 END) AS DOUBLE)
        / NULLIF(any_value(target_tokens), 0) AS fill_ratio,
      CAST(SUM(CASE WHEN keep THEN idh ELSE 0 END) AS BIGINT) AS kept_ids_hash,
      MIN(CASE WHEN keep THEN doc_id END) AS first_kept,
      MAX(CASE WHEN keep THEN doc_id END) AS last_kept
    FROM k GROUP BY source, lang ORDER BY source, lang
  """.trim)
}

/** Q49 — cross-document repeated-paragraph detection, the MassiveText
  * filter q47 cannot see: q47 scores repetition WITHIN a document and
  * the q18 family dedups WHOLE documents, but a scraped corpus is full
  * of documents that are each unique overall while sharing navigation
  * chrome, cookie banners, or licence footers line-for-line with
  * thousands of other pages. Those shared paragraphs are what a
  * pretraining pipeline drops (or down-weights) before training.
  *
  * Unit of sharing: the non-empty trimmed line ([[NorthStar.linesExpr]]
  * — one definition shared with q47's intra-doc signal). Dataflow at
  * 100 TB: explode lines → md5 the line (the 128-bit hash, not the
  * paragraph text, is what shuffles) → ONE hash-keyed aggregation
  * counts distinct carrying documents per line → ONE equi-join back on
  * the hash tags each line occurrence with its cross-doc count → per-
  * document aggregation. No pairwise comparison anywhere: a paragraph
  * shared by 10⁵ documents is one aggregation row and 10⁵ tagged
  * lines, never 10¹⁰ pairs. A document whose shared-line share
  * exceeds [[Q49CrossDocParagraphs.MaxSharedFrac]] (the MassiveText
  * ~30% duplicate-content bar) is flagged `is_boilerplate` and feeds
  * q42's drop-reason precedence.
  *
  * The fixture corpus is single-line docs with unique texts, so the
  * gate-scale output is honestly all-zero shares (still row/schema/
  * hash-checked); the positive path — shared lines across docs,
  * multiplicity counting, within-doc-only repeats NOT counted — is
  * pinned by Round9Spec's multi-doc fixture, and at sf0.1 the corpus
  * genuinely contains cross-doc duplicate lines. */
object Q49CrossDocParagraphs extends GraftQuery {
  import NorthStar._
  val name = "q49_cross_doc_paragraphs"
  /** Docs with more than this share of cross-doc-shared lines are
    * boilerplate-dominated (shared with q42's gate). */
  private[queries] val MaxSharedFrac = 0.3
  /** Unordered per-doc signal frame (q42 joins it on doc_id). */
  private[queries] def signals(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(expr(linesExpr)).as("line"))
      .select(col("doc_id"), col("lang"), md5(col("line")).as("lh"))
    // one row per DISTINCT line hash — the "how many docs carry this
    // paragraph" side of the join; countDistinct because a line
    // repeated only within one doc is q47's business, not q49's
    val byLine = lines.groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val sharedLines = sum(when(col("n_docs") >= 2, 1L).otherwise(0L))
    lines.join(byLine, Seq("lh"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_lines"),
        sharedLines.as("n_shared_lines"),
        (sharedLines.cast("double") / count(lit(1))).as("shared_line_frac"))
  }
  def run(spark: SparkSession, dir: String): DataFrame =
    signals(spark, dir)
      .withColumn("is_boilerplate", col("shared_line_frac") > MaxSharedFrac)
      .orderBy(col("doc_id"))
  val oracle = Some(s"""
    WITH ${NorthStar.duckCrossDocCtes}
    SELECT xl.doc_id, xl.lang, count(*) AS n_lines,
      CAST(SUM(CASE WHEN b.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_shared_lines,
      CAST(SUM(CASE WHEN b.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*) AS shared_line_frac,
      CAST(SUM(CASE WHEN b.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*) > $MaxSharedFrac AS is_boilerplate
    FROM xl JOIN xbyl b ON xl.lh = b.lh
    GROUP BY xl.doc_id, xl.lang ORDER BY xl.doc_id
  """.trim)
}

/** Q24 — document fingerprinting: 31-ary rolling hash over the
  * character stream mod 1e9+7 (exact BIGINT arithmetic — never
  * overflows, identical in both engines), plus the per-fingerprint
  * collision count. Per-row fold → shuffle-free except the window. */
object Q24Fingerprint extends GraftQuery {
  val name = "q24_fingerprint"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("aggregate(transform(filter(split(text, ''), c -> c != ''), c -> cast(ascii(c) as bigint)), " +
          "cast(0 as bigint), (acc, x) -> (acc * 31 + x) % 1000000007)").as("fingerprint"))
    fp.withColumn("n_same", count(lit(1)).over(Window.partitionBy(col("fingerprint"))))
      .orderBy(col("doc_id"))
  }
  val oracle = Some("""
    WITH fp AS (
      SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(list_filter(string_split(text, ''), c -> c <> ''), c -> CAST(ascii(c) AS BIGINT))),
          (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
      FROM documents)
    SELECT doc_id, fingerprint, count(*) OVER (PARTITION BY fingerprint) AS n_same
    FROM fp ORDER BY doc_id
  """.trim)
}

/** Q19g — IVF + PRODUCT QUANTIZATION (Jégou, Douze, Schmid 2011:
  * "Product Quantization for Nearest Neighbor Search"): the MEMORY
  * tier of the persisted ANN index. At 100 TB the raw vectors
  * dominate the index footprint (q19e's lists table stores 64
  * doubles = 512 B per vector); PQ splits each vector into [[M]]
  * subvectors, trains one [[Ks]]-centroid codebook per subspace
  * (seeded spark.ml KMeans — the q19e fit discipline), and stores
  * each vector as M 4-bit codes + the shared codebooks: the serve
  * scan reads [[M]] small ints per vector instead of 64 doubles.
  *
  * Serve is the paper's IVFADC with exact re-ranking:
  *  1. coarse probe — q19e's O(K) driver sqdist picks nProbe lists;
  *     the CODES table is partitioned by list_id like the lists
  *     table, so the scan prunes K−nProbe partitions (plan-asserted).
  *  2. ADC — the query builds an M×Ks lookup table (per-subspace
  *     dot + codebook-centroid norms, O(M·Ks) driver work, broadcast)
  *     and each candidate's approximate cosine is a SUM of M lookups:
  *     map-side join + one aggregation, never touching raw vectors.
  *  3. exact re-rank — the [[Rerank]] best ADC candidates are
  *     re-scored with the SAME decimal exact-cosine arithmetic as
  *     q19d/q19e (`exactCosineTopK`) over a vec_id semi-join against
  *     the pruned lists partitions, so the surfaced top-10 carries
  *     EXACT cosines and the PQ error only costs recall, not score
  *     fidelity — the production IVFADC+R configuration.
  *
  * Rows-only driver check like the rest of the trained ANN family
  * (KMeans float iterations aren't relationally replayable);
  * AnnPqSpec pins determinism, the recall floor vs both the exact
  * baseline (q19) and the uncompressed store tier (q19e), the
  * partition-pruned codes scan, and the measured bytes-per-vector
  * compression against the lists table. */
object Q19gAnnPq extends GraftQuery {
  import NorthStar._
  val name = "q19g_ann_pq"
  /** Subspaces (64-dim embedding → 8 subvectors of 8 dims). */
  val M = 8
  val SubDim = 8
  /** Codes per subspace codebook (4 bits/code → 8×4 = 32 bits/vector
    * vs 4096 bits raw). */
  val Ks = 16
  /** ADC candidates kept for the exact re-rank pass. */
  val Rerank = 50
  /** Partitions of the codebook fit input. A constant, not the core
    * count: k-means|| seeds per partition index, so a core-derived
    * count would fit different codebooks on different hosts. 8 keeps
    * the codebooks every host with ≤ 8 cores fitted before. */
  private val FitPartitions = 8
  private val prefix = "graft_pqstore"

  /** Build (or bind) the PQ tier over the BOUND q19e index: returns
    * (centroids, lists, codebooks, codes). The codebooks/codes build
    * is fingerprint-gated exactly like every store (one KMeans suite
    * per corpus snapshot, then only tables). */
  private[graft] def ensurePqStore(spark: SparkSession, dir: String)
      : (String, String, String, String) = {
    val (centT, listsT) = Q19eAnnIvfStore.ensureStore(spark, dir)
    val names = graft.plans.Stores.ensure(
        spark, prefix, dir, Seq("codebooks", "codes"),
        fpTables = Seq("embeddings.parquet")) { case Seq(cbT, codesT) =>
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      import spark.implicits._
      // Canonical fit-input layout (r20): k-means|| initialization
      // draws its seed candidates with an RNG seeded per PARTITION
      // INDEX, so the fitted codebooks depend on which rows land in
      // which partition — and the lists table's file layout depends
      // on which session built it (suite order / plan context). A
      // keyed repartition + in-partition sort pins (content, order)
      // per partition to a pure function of the data, making the
      // codebooks — and the spec's measured recall — reproducible
      // across sessions. (Observed before the pin: 0.30 recall with
      // the store built in isolation vs 0.20 with the store built by
      // an earlier suite, same tree, same seed.) The partition count
      // is `FitPartitions`, so the host's core count drops out too.
      val base = spark.table(listsT)
        .select(col("vec_id"), col("list_id"),
          col("embedding").cast("array<double>").as("emb"))
        .repartition(FitPartitions, col("vec_id"))
        .sortWithinPartitions(col("vec_id"))
        .localCheckpoint()
      // One seeded KMeans per subspace; each fit sees only its
      // 8-dim slice. M fits over the same pinned frame.
      val cbs = (0 until M).flatMap { m =>
        val sub = base.select(array_to_vector(
          expr(s"slice(emb, ${m * SubDim + 1}, $SubDim)")).as("features"))
        new KMeans().setK(Ks).setSeed(42 + m).setMaxIter(20)
          .setFeaturesCol("features").setPredictionCol("code").fit(sub)
          .clusterCenters.zipWithIndex
          .map { case (c, i) => (m, i, c.toArray.toSeq) }
      }
      cbs.toDF("sub_id", "code_id", "centroid")
        .write.format("parquet").saveAsTable(cbT)
      // Encode: nearest codebook centroid per (vector, subspace) —
      // broadcast the M·Ks codebook rows, exact-double argmin with
      // ties to the lowest code (total order), reassemble the M-code
      // array in subspace order.
      val subs = base.select(col("vec_id"), col("list_id"),
        posexplode(expr(s"transform(sequence(0, ${M - 1}), " +
          s"m_ -> slice(emb, m_ * $SubDim + 1, $SubDim))"))
          .as(Seq("sub_id", "sv")))
      subs.join(broadcast(spark.table(cbT)), "sub_id")
        .withColumn("d2", expr("aggregate(zip_with(sv, centroid, " +
          "(x_, c_) -> (x_ - c_) * (x_ - c_)), 0D, (a_, v_) -> a_ + v_)"))
        .groupBy(col("vec_id"), col("list_id"), col("sub_id"))
        .agg(min(struct(col("d2"), col("code_id"))).as("b"))
        .groupBy(col("vec_id"), col("list_id"))
        .agg(transform(array_sort(collect_list(
            struct(col("sub_id"), col("b.code_id").as("code")))),
          x => x.getField("code")).as("code"))
        .select(col("list_id"), col("vec_id"), col("code"))
        .write.format("parquet").partitionBy("list_id").saveAsTable(codesT)
    }
    (centT, listsT, names(0), names(1))
  }

  /** Coarse probe + ADC shortlist — ONE definition shared by the
    * lazy serve ([[query]]) and the snapshotting entry ([[run]]), so
    * the two can never fork (the round-16 review rule). Probe ties
    * break to the lowest list_id (a total order). */
  private def adcShortlist(spark: SparkSession, dir: String,
      centT: String, cbT: String, codesT: String,
      nProbe: Int): (Seq[Int], DataFrame) = {
    import spark.implicits._
    val qVec = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    // Coarse probe: O(K) driver rows (the q19e rule).
    val probe = spark.table(centT).collect()
      .map { r =>
        val c = r.getSeq[Double](1)
        (r.getInt(0), c.zip(qVec).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.sortBy { case (lid, d2) => (d2, lid) }.take(nProbe).map(_._1).toSeq
    // ADC lookup table: O(M·Ks) driver rows, broadcast.
    val lut = broadcast(spark.table(cbT).collect().map { r =>
      val (m, code) = (r.getInt(0), r.getInt(1))
      val c = r.getSeq[Double](2)
      val qSub = qVec.slice(m * SubDim, (m + 1) * SubDim)
      (m, code, c.zip(qSub).map { case (x, q) => x * q }.sum,
        c.map(x => x * x).sum)
    }.toSeq.toDF("sub_id", "code_id", "qdot", "cn2"))
    // ADC: approximate cosine from M lookups per candidate, over the
    // partition-pruned codes scan.
    val qn2 = qVec.map(x => x * x).sum
    val adc = spark.table(codesT)
      .filter(col("list_id").isin(probe: _*) && col("vec_id") =!= 0)
      .select(col("vec_id"), posexplode(col("code")).as(Seq("sub_id", "code_id")))
      .join(lut, Seq("sub_id", "code_id"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qdot")).as("adot"), sum(col("cn2")).as("an2"))
      .select(col("vec_id"),
        (col("adot") / (sqrt(col("an2")) * lit(math.sqrt(qn2)))).as("acos"))
      .orderBy(col("acos").desc, col("vec_id").asc)
      .limit(Rerank)
      .select(col("vec_id"))
    (probe, adc)
  }

  /** IVFADC+R serve against the bound tables. */
  private[graft] def query(spark: SparkSession, dir: String,
      centT: String, listsT: String, cbT: String, codesT: String,
      nProbe: Int): DataFrame = {
    val (probe, adc) = adcShortlist(spark, dir, centT, cbT, codesT, nProbe)
    // Exact re-rank of the ADC shortlist: raw vectors read ONLY for
    // Rerank ids, from the already-pruned lists partitions.
    val raw = spark.table(listsT)
      .filter(col("list_id").isin(probe: _*) && col("vec_id") =!= 0)
      .join(adc, Seq("vec_id"), "left_semi")
    Q19dAnnIvf.exactCosineTopK(spark, dir, raw)
  }

  /** Snapshot dir (the exact-rerank candidate ids) of the last
    * [[run]] — the q19f bridge applied to IVFADC+R: the coarse probe
    * and the ADC shortlist are model-side selections (spec-gated for
    * determinism/recall as before), but given the pinned shortlist
    * the surfaced output — the exact re-ranked cosines — IS
    * relationally replayable, so the arithmetic that reaches the
    * user is hash-gated. Dir-keyed (VERDICT r17 #5): interleaved
    * corpora pair via [[oracleFor]]. */
  private val snapshot = new graft.plans.SnapRegistry[String]

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (centT, listsT, cbT, codesT) = ensurePqStore(spark, dir)
    // The shortlist is materialized ONCE (≤ Rerank driver ids) and
    // drives BOTH the snapshot and the serve — a second lazy
    // execution could land a different boundary candidate (the ADC
    // sum is an order-dependent double aggregation) and silently
    // desynchronize the pinned set from the served one (round-16
    // review).
    val (probe, adc) = adcShortlist(spark, dir, centT, cbT, codesT,
      Q19dAnnIvf.NProbe)
    val ids = adc.collect().map(_.getLong(0)).toSeq
    val candSnap = graft.plans.Stores.snapPath(spark,
      "graft_q19g_cand_snap", dir, Seq("embeddings.parquet"))
    ids.toDF("vec_id").repartition(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(candSnap)
    snapshot.put(dir, candSnap)
    val raw = spark.table(listsT)
      .filter(col("list_id").isin(probe: _*) && col("vec_id").isin(ids: _*))
    Q19dAnnIvf.exactCosineTopK(spark, dir, raw)
  }

  /** HASH oracle over the pinned shortlist: exact decimal cosines
    * (the q19d/q19e arithmetic) over embeddings ⋉ candidates. */
  def oracle: Option[String] = snapshot.latest.map(bridge)
  private[graft] def oracleFor(dir: String): Option[String] =
    snapshot.forDir(dir).map(bridge)
  private def bridge(candSnap: String): String = {
    def d(x: String) = NorthStar.duckDec(x)
    s"""
    WITH cand AS (SELECT vec_id FROM read_parquet('$candSnap/*.parquet')),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    c AS (SELECT e.vec_id,
      list_aggregate(list_transform(range(1, len(e.embedding)+1), i -> ${d("e.embedding[i]")} * ${d("qv[i]")}), 'sum') AS dot,
      list_aggregate(list_transform(range(1, len(e.embedding)+1), i -> ${d("e.embedding[i]")} * ${d("e.embedding[i]")}), 'sum') AS n2,
      list_aggregate(list_transform(range(1, len(qv)+1), i -> ${d("qv[i]")} * ${d("qv[i]")}), 'sum') AS qn2
      FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id, q)
    SELECT vec_id,
      round(${NorthStar.duckDbl("dot")} / (sqrt(${NorthStar.duckDbl("n2")}) * sqrt(${NorthStar.duckDbl("qn2")})), 4) AS cosine
    FROM c ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """.trim
  }
}

/** Q46c — decontamination behind a BLOOM-FILTER prefilter: the
  * membership-sketch tier of q46, and the shape a 100 TB run
  * actually takes. q46 shuffles EVERY train-split gram hash into the
  * train×test equi-join; at corpus scale almost none of them match
  * anything (the benchmark set is minuscule next to the corpus), so
  * the join's shuffle is dominated by rows that contribute nothing.
  * Here the test-split gram hashes build ONE bloom filter (Spark's
  * own `BloomFilterAggregate`, surfaced as `graft_bloom_agg` via
  * GraftExtensions — the same sketch the engine's runtime-filter
  * machinery injects, applied deliberately), delivered to the
  * train-side scan as a SCALAR SUBQUERY (`graft_bloom_contains` —
  * exactly the `BloomFilterMightContain` form Spark's injected
  * runtime filters use, so the filter evaluates map-side before any
  * exchange), and only might-contain survivors enter the exact join.
  *
  * The sketch changes NO semantics: bloom filters have no false
  * negatives, and false positives are killed by the exact equi-join
  * they precede — so q46c is row-identical to q46 by construction
  * and SHARES its oracle (the hash gate holds the sketch tier to the
  * exact tier). What it changes is the join's input volume: shuffle
  * rows ≈ true matches + FP rate, instead of the whole corpus's gram
  * stream. Round13eSpec pins row-parity, the might_contain prefilter
  * in the executed plan, and the measured train-side reduction. */
object Q46cDecontaminateBloom extends GraftQuery {
  val name = "q46c_decontaminate_bloom"
  private val viewSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  def run(spark: SparkSession, dir: String): DataFrame = {
    val grams = Q46Decontaminate.gramFrame(spark, dir)
    val v = s"graft_q46c_grams_${viewSeq.incrementAndGet()}"
    grams.createOrReplaceTempView(v)
    // Scalar subquery: the bloom build executes once, its bytes ride
    // into the filter as a literal — Spark's own runtime-filter
    // delivery mechanism, spelled explicitly.
    val pre = spark.sql(s"""
      SELECT doc_id, split, gh FROM $v
      WHERE split = 'train' AND graft_bloom_contains(
        (SELECT graft_bloom_agg(xxhash64(gh)) FROM $v WHERE split = 'test'),
        xxhash64(gh))""")
    val report = Q46Decontaminate.report(spark, dir,
      pre.unionByName(grams.filter(col("split") === "test")
        .select(col("doc_id"), col("split"), col("gh"))))
    // spark.sql analyzes eagerly — the view reference is resolved
    // into `pre`'s plan above, so the view can be dropped before the
    // frame executes. Without the drop every invocation leaked a
    // uniquely-numbered catalog entry for the session's lifetime
    // (ADVICE r13).
    spark.catalog.dropTempView(v)
    report
  }

  /** Same decision, same report — the exact tier's oracle IS the
    * sketch tier's gate. */
  val oracle: Option[String] = Q46Decontaminate.oracle
}
