package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Q54–Q56 — model-driven document scoring and chunking: an n-gram
  * language-model perplexity filter (CCNet-style — score every
  * document against an LM trained on the corpus itself, drop the
  * tail), a hashed-feature linear quality classifier (fastText-style),
  * and context-window chunking. `Scoring.all` is ALSO the registration
  * point for q57 (DeltaDedup.scala) and q58 (Pipeline.scala) — a new
  * query in those files must be added HERE to reach SparkEntry.
  *
  * Float determinism follows the q53 rules: every per-doc float
  * aggregate folds in an explicit key order (so both engines add
  * identical IEEE terms in identical sequence), integer arithmetic
  * everywhere a verdict is derived, ROUND(..., 4) on genuinely-float
  * surfaces (exact-integer ratios stay UNROUNDED per the GraftQuery
  * contract).
  */
object Scoring {
  /** q53's corpus normalization: whitespace tokens → letters-only,
    * lowercased, empties dropped. */
  private[queries] val normToks =
    "filter(transform(split(text, '\\\\s+'), " +
      "t_ -> graft_normalize_fast(t_)), x_ -> x_ != '')"
  private[queries] val duckNormToks =
    raw"list_filter(list_transform(string_split_regex(text, '\s+'), " +
      raw"t_ -> lower(regexp_replace(t_, '[^a-zA-Z]', '', 'g'))), x_ -> x_ <> '')"

  val all: Seq[GraftQuery] = Seq(Q54LmPerplexity, Q55ClassifierScore,
    Q55bTrainedClassifier, Q56ChunkWindows, Q57DeltaDedup,
    Q57bDeltaDedupStore, Q58TrainingShards, Q58bShardExport)
}

/** Q56 — context-window chunking: split every document's token stream
  * into fixed-size windows (W=32) with stride S=24 (8-token overlap) —
  * the step between curation and sequence packing in a pretraining
  * pipeline (long documents must become model-context-sized pieces;
  * the overlap preserves cross-boundary n-grams). All integer
  * arithmetic: chunk count = (max(n−W, 0) + S − 1) div S + 1 (integer
  * ceil — no float division for either engine to disagree on), chunk k
  * covers tokens [kS+1, kS+W]; S < W guarantees the last chunk is
  * non-empty. Pure per-row explode — map-only until the final sort, no
  * shuffle grows with document LENGTH, only with document count. */
object Q56ChunkWindows extends GraftQuery {
  val name = "q56_chunk_windows"
  /** Window geometry — ALSO consumed by q58's assembly tail
    * (Pipeline.scala): one definition, so the tiling can never drift
    * between "the chunking query" and "the pipeline that chunks". */
  private[queries] val W = 32
  private[queries] val S = 24
  /** Chunk count over a bound token array `t`, integer-ceil:
    * (max(n−W,0)+S−1) div S + 1 — shared with q58's explode. */
  private[queries] def chunkIdsExpr: String =
    s"sequence(0, (greatest(size(t) - $W, 0) + $S - 1) div $S)"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(NorthStar.toksExpr).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), size(col("t")).as("n_tokens"),
        explode(expr(
          s"transform($chunkIdsExpr, " +
            s"k -> named_struct('cid', cast(k as int), " +
            s"'start', cast(k * $S + 1 as int), " +
            s"'toks', slice(t, k * $S + 1, $W)))")).as("c"))
      .select(col("doc_id"),
        col("c.cid").as("chunk_id"),
        col("c.start").as("start_tok"),
        size(col("c.toks")).as("chunk_tokens"),
        array_join(col("c.toks"), " ").as("chunk_text"),
        col("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))
  val oracle = Some(raw"""
    WITH toks AS (SELECT doc_id, ${NorthStar.duckToks} AS t FROM documents),
    d AS (SELECT doc_id, t, CAST(len(t) AS INT) AS n FROM toks WHERE len(t) >= 1),
    k AS (SELECT doc_id, t, n,
          CAST(unnest(range(0, (greatest(n - 32, 0) + 23) // 24 + 1)) AS INT) AS cid
          FROM d),
    c AS (SELECT doc_id, cid, cid * 24 + 1 AS start_tok,
          t[cid * 24 + 1 : least(cid * 24 + 32, n)] AS ts, n
          FROM k)
    SELECT doc_id, cid AS chunk_id, CAST(start_tok AS INT) AS start_tok,
      CAST(len(ts) AS INT) AS chunk_tokens,
      array_to_string(ts, ' ') AS chunk_text,
      CAST(n AS INT) AS n_tokens
    FROM c ORDER BY doc_id, chunk_id
  """.trim)
}

/** Q54 — bigram-LM perplexity scoring (the CCNet quality gate): build
  * add-1-smoothed bigram statistics over the whole corpus, then score
  * each document by its mean negative log-likelihood under that model
  * (`nll`, and `ppl = e^nll`). Repetitive/templated text scores low,
  * incoherent token soup scores high; q42's gates work on surface
  * ratios, this is the distributional upgrade.
  *
  * Scale shape: the exploded bigram stream is aggregated ONCE, into
  * the per-doc distinct counts dc — everything else derives from that
  * much smaller frame: c2(w1,w2) = Σ_docs dc, and c1(w1) = Σ_docs dc
  * rolled up DIRECTLY from dc (not from c2 — the c1-from-c2 chain
  * broke exchange-reuse canonicalization and re-derived the corpus
  * scan; see the inline comment at the lm1 definition). A naive
  * formulation would re-derive the explode for each of c2/c1/dc,
  * i.e. three corpus scans; this one pays one (plus a cheap token
  * scan for the vocabulary scalar, a 1-row broadcast — q19's
  * query-vector pattern). The scoring join dc ⋈ c2 ⋈ c1 is on word
  * keys at vocabulary scale, not token scale; Zipf-hot keys ("of
  * the" in every doc) are exactly the AQE skew-join case the session
  * enables.
  *
  * Determinism: `dc · ln((c2+1)/(c1+V))` terms are collected per doc
  * and folded in (w1, w2) order — identical IEEE addition sequence in
  * both engines (q53's rule); ln/exp are the libm-vs-StrictMath risk
  * q53 already prices in, hidden behind ROUND(..., 4). The collected
  * array is bounded by ONE DOCUMENT's distinct-bigram count (q53's
  * `cs` class — MBs for a 100k-token doc), never by a corpus-level
  * key like the q48 audit column the round-8 review flagged.
  */
object Q54LmPerplexity extends GraftQuery {
  import Scoring._
  val name = "q54_lm_perplexity"

  def run(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), expr(normToks).as("t"))
    val bg = toks
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
          "(a_, b_) -> named_struct('w1', a_, 'w2', b_))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      // w1/w2 are never null (explode of named_struct over non-null
      // tokens) but Catalyst can't see that; the downstream joins
      // infer DIFFERENT isnotnull sets per branch (w1-only for the c1
      // join), which breaks exchange-reuse canonicalization and
      // re-derives the corpus scan. Filtering both here makes every
      // branch's subtree identical → one shuffle feeds all three.
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    val vocab = toks.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).cast("double").as("v"))
    val dbg = bg.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("dc"))
    // both rollups hang off dbg's exchange directly (AQE reuses one
    // (doc_id,w1,w2) shuffle for all three consumers; a c1-from-c2
    // chain was observed to re-derive the corpus scan instead)
    val lm2 = dbg.groupBy(col("w1"), col("w2")).agg(sum(col("dc")).as("c2"))
    val lm1 = dbg.groupBy(col("w1")).agg(sum(col("dc")).as("c1"))
    dbg.join(lm2, Seq("w1", "w2")).join(lm1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("w1"), col("w2"), col("dc"),
        (col("dc").cast("double") *
          log((col("c2") + 1).cast("double") /
            (col("c1").cast("double") + col("v")))).as("term"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("dc")).cast("long").as("n_bigrams"),
        // (w1, w2) unique per doc → the struct sort is total and the
        // float fold below is order-deterministic
        sort_array(collect_list(struct(col("w1"), col("w2"), col("term"))))
          .as("ts"))
      // + 0.0 normalizes the -0.0 a degenerate all-one-word corpus
      // produces (every term exactly 0 → negated sum is -0.0): Spark's
      // round() drops the sign via BigDecimal, DuckDB's keeps it — the
      // addition makes both engines carry +0.0 before rounding.
      .withColumn("nllu", expr(
        "-aggregate(transform(ts, x_ -> x_.term), cast(0 as double), " +
          "(a_, x_) -> a_ + x_) / n_bigrams + 0.0d"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("nllu"), 4).as("nll"),
        round(exp(col("nllu")), 4).as("ppl"))
      .orderBy(col("doc_id"))
  }

  val oracle = Some(raw"""
    WITH toks AS (SELECT doc_id, $duckNormToks AS t FROM documents),
    bg AS (
      SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2),
    vocab AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
              FROM (SELECT unnest(t) AS w FROM toks)),
    lm2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
    lm1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    dbg AS (SELECT doc_id, w1, w2, count(*) AS dc FROM bg GROUP BY 1, 2, 3),
    terms AS (
      SELECT d.doc_id, d.w1, d.w2, d.dc,
        CAST(d.dc AS DOUBLE) * ln((l2.c2 + 1) / (l1.c1 + v.v)) AS term
      FROM dbg d
      JOIN lm2 l2 ON d.w1 = l2.w1 AND d.w2 = l2.w2
      JOIN lm1 l1 ON d.w1 = l1.w1
      CROSS JOIN vocab v),
    agg AS (
      SELECT doc_id, CAST(sum(dc) AS BIGINT) AS n_bigrams,
        list(term ORDER BY w1 ASC, w2 ASC) AS ts
      FROM terms GROUP BY doc_id),
    fin AS (
      SELECT doc_id, n_bigrams,
        -list_reduce(list_prepend(CAST(0 AS DOUBLE), ts),
          (a_, x_) -> a_ + x_) / n_bigrams + 0.0 AS nllu
      FROM agg)
    SELECT doc_id, n_bigrams, round(nllu, 4) AS nll, round(exp(nllu), 4) AS ppl
    FROM fin ORDER BY doc_id
  """.trim)
}

/** Q55 — hashed linear quality classifier (fastText-shaped): one
  * codegen'd pass over every byte of the corpus via the native
  * `graft_token_score` expression (`functions/HashedTokenScore.scala`
  * — feature = q24 rolling hash mod 1000003, weight = Knuth scramble
  * standing in for trained weights). score_num and n_toks are LONGs —
  * the cross-engine contract is integer-exact; the surfaced score is
  * one IEEE division, and the keep verdict compares the integer
  * numerator so no float ever decides it. Map-only (join/agg-free,
  * plan-asserted in Round9bSpec): at 100 TB this is a pure scan. */
object Q55ClassifierScore extends GraftQuery {
  import Scoring._
  val name = "q55_classifier_score"

  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr("graft_token_score(text)").as("r"))
      .select(col("doc_id"),
        col("r.n_toks").as("n_toks"),
        col("r.score_num").as("score_num"))
      .select(col("doc_id"), col("n_toks"), col("score_num"),
        // deliberately UNROUNDED: both operands are exact integers, so
        // the single IEEE division is bit-identical in both engines —
        // while ROUND(x, 4) is NOT cross-engine-safe here, because
        // score_num/(500·n) is an exact short decimal whenever the
        // denominator's 3-factors cancel, and exact halfway points
        // (e.g. -261/12000 = -0.02175 at sf0.1) round differently
        // (Spark: HALF_UP on the shortest decimal repr; DuckDB: on
        // the binary double, which sits below the halfway point)
        when(col("n_toks") === 0, 0.0d)
          .otherwise(col("score_num").cast("double") /
            (col("n_toks") * 500.0d)).as("score"),
        // a zero-token doc (pure digits/punctuation) is junk, not a
        // neutral score-0 pass — the gate requires tokens to judge
        (col("n_toks") > 0 && col("score_num") >= 0).as("keep"))
      .orderBy(col("doc_id"))

  val oracle = Some(raw"""
    WITH toks AS (SELECT doc_id, $duckNormToks AS ts FROM documents),
    w AS (
      SELECT doc_id, list_transform(ts, t_ ->
        ((list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(t_, ''), c_ -> CAST(ascii(c_) AS BIGINT))),
          (acc_, x_) -> (acc_ * 31 + x_) % 1000003) * 2654435761) % 1001) - 500) AS ws
      FROM toks),
    a AS (
      SELECT doc_id,
        CAST(len(ws) AS BIGINT) AS n_toks,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ws),
          (a_, x_) -> a_ + x_) AS BIGINT) AS score_num
      FROM w)
    SELECT doc_id, n_toks, score_num,
      CASE WHEN n_toks = 0 THEN 0.0
           ELSE CAST(score_num AS DOUBLE) / (n_toks * 500.0) END AS score,
      n_toks > 0 AND score_num >= 0 AS keep
    FROM a ORDER BY doc_id
  """.trim)
}
