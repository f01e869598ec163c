package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Q77 — DSIR DATA SELECTION (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling"): score every raw
  * document by how target-like its hashed-bigram distribution is —
  * the importance weight log p_target(d)/p_raw(d) under bag-of-
  * hashed-ngrams unigram models — and select the top-K. The standard
  * published recipe for carving a pretraining mix toward a curated
  * target distribution; here target = the train split (q40's key),
  * raw = the whole corpus, exactly the proxy-target shape the paper
  * evaluates.
  *
  * EXACTNESS (the q64h technique): per-bucket log-ratios are
  * INTEGER-QUANTIZED — λ(b) = ⌊10⁶·ln(c_t(b)+1)⌋ − ⌊10⁶·ln(T_t+B)⌋ −
  * ⌊10⁶·ln(c_r(b)+1)⌋ + ⌊10⁶·ln(T_r+B)⌋ (add-one smoothing over B
  * buckets) — so the per-doc weight Σ_b n_d(b)·λ(b) is exact BIGINT
  * arithmetic with NO fold-order sensitivity at all, and both engines
  * compute it bit-identically (an ln ulp difference would have to
  * land within ~1e-10 of the quantization grid to flip one λ).
  * Bigram buckets come from the portable md5-prefix hash (the q76
  * pattern) mod B, so the hashing replays in DuckDB.
  *
  * 100 TB posture: TWO corpus passes — one (bkt, is-target) count
  * aggregation (map-side combined into ≤B rows, which also yields
  * the totals) and one per-(doc, bkt) count — then a B-row broadcast
  * λ join and the top-K via TakeOrderedAndProject (never a global
  * sort). The per-doc weight is a pure integer aggregate. */
object Q77DsirSelection extends GraftQuery {
  val name = "q77_dsir_selection"
  /** Hashed-bigram buckets (the paper uses 10⁴; fixture-sized here —
    * a deployment scales B with target vocabulary). */
  val Buckets = 4096
  /** Documents selected (top importance weights). */
  val SelectK = 100

  private def qlog(x: Double): Long = math.floor(1e6 * math.log(x)).toLong
  private def qlogE(x: String) = s"cast(floor(1000000 * ln($x)) as bigint)"
  /** Portable bucket hash — q76's md5-prefix fold, mod B. */
  private def hExpr(x: String) =
    s"pmod(cast(conv(substring(md5($x), 1, 15), 16, 10) as bigint), $Buckets)"

  private val arrExpr = "filter(transform(split(text, '\\\\s+'), " +
    "x_ -> graft_normalize_fast(x_)), w_ -> w_ <> '')"
  private val bigramsExpr = NorthStar.let("tk", arrExpr,
    "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), " +
      "(a_, b_) -> concat(a_, ' ', b_))")

  /** (doc_id, bkt) — one row per bigram OCCURRENCE of any (doc_id,
    * text) frame; the shared gram pass for both DSIR shapes (and the
    * store tier's delta scoring — q77d). */
  private[queries] def gramsOf(docs: DataFrame): DataFrame =
    docs.filter(size(expr(arrExpr)) >= 2)
      .select(col("doc_id"), explode(expr(bigramsExpr)).as("g"))
      .select(col("doc_id"), expr(hExpr("g")).as("bkt"))

  /** (doc_id, split, bkt) — one row per bigram OCCURRENCE. */
  private def grams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", Q40TrainTestSplit.splitCol)
      .filter(size(expr(arrExpr)) >= 2)
      .select(col("doc_id"), col("split"), explode(expr(bigramsExpr)).as("g"))
      .select(col("doc_id"), col("split"), expr(hExpr("g")).as("bkt"))

  def run(spark: SparkSession, dir: String): DataFrame =
    selection(spark, dir).orderBy(col("doc_id"))

  /** The fitted importance model over `dir`'s corpus: (λ table — ≤B
    * rows, the quantized log-ratios; per-doc weight frame) —
    * [[selection]]'s guts, exposed so the store tier (q77d) can
    * persist exactly the model the batch tier computes. */
  private[queries] def model(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, Long) = {
    val g = grams(spark, dir)
    // Pass 1: per-bucket raw + target counts in ONE aggregation
    // (≤ B rows out); totals fall out of it with a B-row agg.
    val byBkt = g.groupBy(col("bkt"))
      .agg(count(lit(1)).as("c_r"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("c_t"))
      .localCheckpoint(true) // consumed twice: totals action + λ join
    val tot = byBkt.agg(sum(col("c_r")).cast("long"),
      sum(col("c_t")).cast("long")).head()
    val (totR, totT) = (tot.getLong(0), tot.getLong(1))
    val lam = byBkt.select(col("bkt"),
      (expr(qlogE("cast(c_t + 1 as double)"))
        - lit(qlog((totT + Buckets).toDouble))
        - expr(qlogE("cast(c_r + 1 as double)"))
        + lit(qlog((totR + Buckets).toDouble))).as("lam"))
    // Pass 2: per-(doc, bucket) occurrence counts → exact integer
    // weight via the broadcast λ join.
    val wts = g.groupBy(col("doc_id"), col("bkt"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(lam), Seq("bkt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_grams"),
        sum(col("n") * col("lam")).cast("long").as("weight_q"))
      .localCheckpoint(true) // consumed twice: top-K + the report join
    // λ of a bucket UNSEEN in the build corpus (c_t = c_r = 0 under
    // add-one smoothing) — the store tier serves arriving deltas with
    // it (q77d; unseen buckets cannot occur in the batch tier, whose
    // scoring buckets all come from the counted corpus).
    val lam0 = qlog((totR + Buckets).toDouble) - qlog((totT + Buckets).toDouble)
    (lam, wts, lam0)
  }

  /** The full per-doc report frame (doc_id, n_grams, weight_q,
    * selected) — shared with the packing tier (q77b). */
  private[graft] def selection(spark: SparkSession, dir: String): DataFrame = {
    val (_, wts, _) = model(spark, dir)
    // Top-K selection: TakeOrderedAndProject, never a global sort.
    val top = wts.orderBy(col("weight_q").desc, col("doc_id").asc)
      .limit(SelectK).select(col("doc_id"), lit(true).as("sel"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(wts, Seq("doc_id"), "left")
      .join(broadcast(top), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("weight_q"), lit(0L)).as("weight_q"),
        coalesce(col("sel"), lit(false)).as("selected"))
  }

  /** The GENERAL DSIR shape (VERDICT r14 next #2): raw and target are
    * ARBITRARY (doc_id, text) frames — a production user brings a
    * curated target TABLE, not a split key of the raw corpus. Bucket
    * counts come from one pass over each frame (a full outer join
    * aligns the ≤B-row count frames; add-one smoothing covers buckets
    * absent from either side), λ and the per-doc integer weights are
    * exactly [[selection]]'s arithmetic, and the report covers every
    * raw doc. `selection` (target = the q40 train split ⊆ raw) remains
    * the specialized single-pass default — when the target IS a slice
    * of raw, counting both sides in one aggregation saves a scan. */
  private[graft] def selectionVs(spark: SparkSession, raw: DataFrame,
      target: DataFrame, selectK: Int = SelectK): DataFrame = {
    val cR = gramsOf(raw).groupBy(col("bkt")).agg(count(lit(1)).as("c_r"))
    val cT = gramsOf(target).groupBy(col("bkt")).agg(count(lit(1)).as("c_t"))
    val byBkt = cR.join(cT, Seq("bkt"), "full")
      .select(col("bkt"), coalesce(col("c_r"), lit(0L)).as("c_r"),
        coalesce(col("c_t"), lit(0L)).as("c_t"))
      .localCheckpoint(true) // ≤B rows; consumed twice (totals + λ join)
    val tot = byBkt.agg(sum(col("c_r")).cast("long"),
      sum(col("c_t")).cast("long")).head()
    val (totR, totT) = (tot.getLong(0), tot.getLong(1))
    val lam = byBkt.select(col("bkt"),
      (expr(qlogE("cast(c_t + 1 as double)"))
        - lit(qlog((totT + Buckets).toDouble))
        - expr(qlogE("cast(c_r + 1 as double)"))
        + lit(qlog((totR + Buckets).toDouble))).as("lam"))
    val wts = gramsOf(raw).groupBy(col("doc_id"), col("bkt"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(lam), Seq("bkt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_grams"),
        sum(col("n") * col("lam")).cast("long").as("weight_q"))
      .localCheckpoint(true) // consumed twice: top-K + the report join
    val top = wts.orderBy(col("weight_q").desc, col("doc_id").asc)
      .limit(selectK).select(col("doc_id"), lit(true).as("sel"))
    raw.select(col("doc_id"))
      .join(wts, Seq("doc_id"), "left")
      .join(broadcast(top), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("weight_q"), lit(0L)).as("weight_q"),
        coalesce(col("sel"), lit(false)).as("selected"))
  }

  /** CTE chain through `wts` (per-doc weights) and `sel` (top-K doc
    * ids) — shared by q77's oracle and the packing tier's (q77b). */
  private[queries] val duckDsirCtes: String = {
    val fold =
      """list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(string_split(substr(md5(t[i] || ' ' || t[i + 1]), 1, 15), ''),
           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
         (acc_, y_) -> acc_ * 16 + y_)"""
    raw"""d AS (SELECT doc_id, ${Q40TrainTestSplit.duckSplit} AS split,
        list_filter(list_transform(string_split_regex(text, '\s+'),
          x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
          w_ -> w_ <> '') AS t
      FROM documents),
    b AS (SELECT doc_id, split, $fold % $Buckets AS bkt
          FROM d, unnest(range(1, len(t))) AS u(i)
          WHERE len(t) >= 2),
    bybkt AS (SELECT bkt, CAST(count(*) AS BIGINT) AS c_r,
            CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS c_t
          FROM b GROUP BY bkt),
    tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS r, CAST(SUM(c_t) AS BIGINT) AS t
            FROM bybkt),
    lam AS (SELECT bkt,
        CAST(floor(1000000 * ln(CAST(c_t + 1 AS DOUBLE))) AS BIGINT)
      - CAST(floor(1000000 * ln(CAST((SELECT t FROM tot) + $Buckets AS DOUBLE))) AS BIGINT)
      - CAST(floor(1000000 * ln(CAST(c_r + 1 AS DOUBLE))) AS BIGINT)
      + CAST(floor(1000000 * ln(CAST((SELECT r FROM tot) + $Buckets AS DOUBLE))) AS BIGINT) AS lam
      FROM bybkt),
    db AS (SELECT doc_id, bkt, CAST(count(*) AS BIGINT) AS n
           FROM b GROUP BY doc_id, bkt),
    wts AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_grams,
            CAST(SUM(n * lam) AS BIGINT) AS weight_q
          FROM db JOIN lam USING (bkt) GROUP BY doc_id),
    sel AS (SELECT doc_id FROM wts
            ORDER BY weight_q DESC, doc_id ASC LIMIT $SelectK)"""
  }

  /** The general shape's CTE chain: raw = all documents, target = the
    * rows matching `targetWhere` — separate gram passes, full-outer
    * bucket alignment, then the same λ/weights/top-K tail. */
  private[queries] def duckDsirCtesVs(targetWhere: String): String = {
    val fold =
      """list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(string_split(substr(md5(t[i] || ' ' || t[i + 1]), 1, 15), ''),
           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
         (acc_, y_) -> acc_ * 16 + y_)"""
    val toks = raw"""list_filter(list_transform(string_split_regex(text, '\s+'),
          x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
          w_ -> w_ <> '')"""
    raw"""d AS (SELECT doc_id, $toks AS t FROM documents),
    b AS (SELECT doc_id, $fold % $Buckets AS bkt
          FROM d, unnest(range(1, len(t))) AS u(i)
          WHERE len(t) >= 2),
    dt AS (SELECT doc_id, $toks AS t FROM documents WHERE $targetWhere),
    bt AS (SELECT doc_id, $fold % $Buckets AS bkt
           FROM dt, unnest(range(1, len(t))) AS u(i)
           WHERE len(t) >= 2),
    cr AS (SELECT bkt, CAST(count(*) AS BIGINT) AS c_r FROM b GROUP BY bkt),
    ct AS (SELECT bkt, CAST(count(*) AS BIGINT) AS c_t FROM bt GROUP BY bkt),
    bybkt AS (SELECT COALESCE(cr.bkt, ct.bkt) AS bkt,
            COALESCE(c_r, CAST(0 AS BIGINT)) AS c_r,
            COALESCE(c_t, CAST(0 AS BIGINT)) AS c_t
          FROM cr FULL JOIN ct ON cr.bkt = ct.bkt),
    tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS r, CAST(SUM(c_t) AS BIGINT) AS t
            FROM bybkt),
    lam AS (SELECT bkt,
        CAST(floor(1000000 * ln(CAST(c_t + 1 AS DOUBLE))) AS BIGINT)
      - CAST(floor(1000000 * ln(CAST((SELECT t FROM tot) + $Buckets AS DOUBLE))) AS BIGINT)
      - CAST(floor(1000000 * ln(CAST(c_r + 1 AS DOUBLE))) AS BIGINT)
      + CAST(floor(1000000 * ln(CAST((SELECT r FROM tot) + $Buckets AS DOUBLE))) AS BIGINT) AS lam
      FROM bybkt),
    db AS (SELECT doc_id, bkt, CAST(count(*) AS BIGINT) AS n
           FROM b GROUP BY doc_id, bkt),
    wts AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_grams,
            CAST(SUM(n * lam) AS BIGINT) AS weight_q
          FROM db JOIN lam USING (bkt) GROUP BY doc_id),
    sel AS (SELECT doc_id FROM wts
            ORDER BY weight_q DESC, doc_id ASC LIMIT $SelectK)"""
  }

  /** DuckDB replay: same portable hash fold, same quantized-log
    * arithmetic, same top-K rule. */
  val oracle: Option[String] = Some {
    s"""
    WITH $duckDsirCtes
    SELECT d0.doc_id,
      COALESCE(w.n_grams, 0) AS n_grams,
      COALESCE(w.weight_q, 0) AS weight_q,
      COALESCE(s.doc_id IS NOT NULL, FALSE) AS selected
    FROM (SELECT doc_id FROM documents) d0
    LEFT JOIN wts w ON w.doc_id = d0.doc_id
    LEFT JOIN sel s ON s.doc_id = d0.doc_id
    ORDER BY d0.doc_id
  """.trim
  }
}

/** Q77c — DSIR against an ARBITRARY curated target table (VERDICT r14
  * next #2): the production shape, where the target distribution is a
  * user-supplied table of curated documents — NOT a split key of the
  * raw corpus. [[Q77DsirSelection.selectionVs]] takes raw and target
  * as two independent (doc_id, text) frames; this entry drives it
  * with a crafted curated slice (the German-language documents — a
  * target a real user plausibly brings: "make the mix look like my
  * high-quality lang-pinned subset") and the driver hash-gates the
  * full per-doc report against the replayed oracle. Round15 specs pin
  * the PARAMETERIZATION itself: different targets ⇒ different
  * selections, and target = train split reproduces q77 exactly. */
object Q77cDsirTarget extends GraftQuery {
  val name = "q77c_dsir_target"

  /** The crafted curated target: lang-pinned documents. */
  private[graft] val TargetLang = "de"

  def run(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Q77DsirSelection.selectionVs(spark, docs,
        docs.filter(col("lang") === TargetLang))
      .orderBy(col("doc_id"))
  }

  val oracle: Option[String] = Some {
    s"""
    WITH ${Q77DsirSelection.duckDsirCtesVs(s"lang = '$TargetLang'")}
    SELECT d0.doc_id,
      COALESCE(w.n_grams, 0) AS n_grams,
      COALESCE(w.weight_q, 0) AS weight_q,
      COALESCE(s.doc_id IS NOT NULL, FALSE) AS selected
    FROM (SELECT doc_id FROM documents) d0
    LEFT JOIN wts w ON w.doc_id = d0.doc_id
    LEFT JOIN sel s ON s.doc_id = d0.doc_id
    ORDER BY d0.doc_id
  """.trim
  }
}

/** Q77b — SELECTED-MIX PACKING: the composed tail of data selection —
  * DSIR's top-K docs (q77) packed into token-budget shards in
  * selection order (weight desc, doc_id asc — the deterministic
  * "best data first" order), q45's cumulative-budget rule. This is
  * the pipeline ending a selection actually feeds: the shard
  * manifest a trainer reads. The packing window runs over the
  * SELECTED set only — K rows, driver-scale by construction — never
  * the corpus (q45 packs per-lang corpus-wide; this tier packs the
  * selection, so the single-partition window is bounded by K).
  *
  * Pure composition of two verified tiers; the composed oracle
  * (q77's CTE chain + q45's shard shape) gates the stitching. */
object Q77bDsirPacking extends GraftQuery {
  val name = "q77b_dsir_packing"
  /** Token budget per shard (q45's). */
  val Budget = 1000L

  def run(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sel = Q77DsirSelection.selection(spark, dir)
      .filter(col("selected"))
      .select(col("doc_id"), col("weight_q"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(expr(NorthStar.toksExpr)).cast("long").as("tokens"))
    val w = Window.orderBy(col("weight_q").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sel.join(toks, Seq("doc_id"))
      .withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("shard", expr(s"(cum - tokens) div $Budget"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("total_tokens"),
        max(col("weight_q")).as("max_weight_q"),
        min(col("weight_q")).as("min_weight_q"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"))
  }

  val oracle: Option[String] = Some {
    s"""
    WITH ${Q77DsirSelection.duckDsirCtes},
    sw AS (SELECT s.doc_id, w.weight_q,
            CAST(len(${NorthStar.duckToks}) AS BIGINT) AS tokens
          FROM sel s
          JOIN wts w ON w.doc_id = s.doc_id
          JOIN documents ON documents.doc_id = s.doc_id),
    c AS (SELECT doc_id, weight_q, tokens,
          CAST(SUM(tokens) OVER (ORDER BY weight_q DESC, doc_id ASC
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM sw)
    SELECT (cum - tokens) // $Budget AS shard,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(SUM(tokens) AS BIGINT) AS total_tokens,
      max(weight_q) AS max_weight_q,
      min(weight_q) AS min_weight_q,
      min(doc_id) AS first_doc,
      max(doc_id) AS last_doc
    FROM c GROUP BY shard ORDER BY shard
  """.trim
  }
}

/** Q77d — DSIR served from a PERSISTED importance-model STORE: the
  * production shape of data selection at ingest (round 16 — the store
  * column the rest of the families already have: q74b postings, q19e
  * lists, q64e vocabularies). q77 re-fits the model per run — correct
  * for the oracle harness, but at 100 TB the model is fitted ONCE per
  * corpus snapshot and every arriving shard is scored against it:
  *
  *  - `lam` table (≤ Buckets rows): q77's quantized log-ratio λ —
  *    persisting THE SAME frame the batch tier computes
  *    ([[Q77DsirSelection.model]] — tiers cannot drift).
  *  - `thresh` table (1 row): the admission bar, FROZEN AT BUILD as
  *    the SelectK-th ranked weight of the build corpus. A stream
  *    cannot run a global top-K; the production gate is "admit iff
  *    weight ≥ the bar the curator froze" — the same split every
  *    store family makes (train-time baseline, serve-time compare).
  *
  * Serve ([[serveFrom]]): ONE map-only gram pass over the delta, a
  * ≤B-row broadcast λ join, one per-doc exact-integer aggregate, one
  * O(1) threshold compare — no corpus-side work at all. TIE
  * SEMANTICS, documented: threshold admission accepts EVERY doc at
  * the bar (the batch top-K breaks ties by doc_id), so a serve over
  * the build corpus selects a SUPERSET of q77's set exactly when
  * weights tie at rank K — the oracle encodes the threshold rule, so
  * the gate pins precisely these semantics.
  *
  * HASH oracle: q77's own CTE chain (weights + top-K) extended with
  * the replayed bar (min weight over the top-K) and the threshold
  * verdict — one more tier under the DSIR family's gate. */
object Q77dDsirStore extends GraftQuery {
  val name = "q77d_dsir_store"
  private val prefix = "graft_dsirstore"

  /** Build (or bind) this corpus snapshot's (λ, bar). The bar table
    * carries TWO scalars: the frozen admission threshold AND λ₀ — the
    * smoothed log-ratio of a bucket UNSEEN at build (c_t = c_r = 0 ⇒
    * λ₀ = ⌊10⁶·ln(T_r+B)⌋ − ⌊10⁶·ln(T_t+B)⌋). An arriving delta can
    * hit buckets the build corpus never did; add-one smoothing
    * defines their weight, and dropping them instead (an inner λ
    * join) would silently over-admit novel text — caught by
    * Round16Spec's disjoint-delta case. */
  private[graft] def ensureStore(spark: SparkSession,
      dir: String): (String, String) = {
    val names = graft.plans.Stores.ensure(
        spark, prefix, dir, Seq("lam", "bar")) {
      case Seq(lamT, barT) =>
        val (lam, wts, lam0) = Q77DsirSelection.model(spark, dir)
        lam.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(lamT)
        wts.orderBy(col("weight_q").desc, col("doc_id").asc)
          .limit(Q77DsirSelection.SelectK)
          .agg(min(col("weight_q")).as("thresh"), lit(lam0).as("lam0"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(barT)
    }
    (names(0), names(1))
  }

  /** The frozen (admission bar, unseen-bucket λ₀) — one O(1) head(). */
  private[graft] def barOf(spark: SparkSession, barT: String): (Long, Long) = {
    val r = spark.table(barT).head()
    require(!r.isNullAt(0),
      s"$barT holds no threshold — the build corpus scored no document")
    (r.getLong(0), r.getLong(1))
  }

  /** Score an arriving (doc_id, text) delta against the bound model —
    * shared by the batch entry (run) and the ingest stream (s27).
    * Map-only gram pass + broadcast λ LEFT join (unseen buckets take
    * the smoothed λ₀, never a silent drop) + per-doc exact-integer
    * aggregate; docs with no grams score 0 and face the same bar. */
  private[graft] def serveFrom(spark: SparkSession, delta: DataFrame,
      lamT: String, thresh: Long, lam0: Long): DataFrame = {
    val wts = Q77DsirSelection.gramsOf(delta)
      .groupBy(col("doc_id"), col("bkt"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(spark.table(lamT)), Seq("bkt"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_grams"),
        sum(col("n") * coalesce(col("lam"), lit(lam0)))
          .cast("long").as("weight_q"))
    delta.select(col("doc_id"))
      .join(wts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("weight_q"), lit(0L)).as("weight_q"),
        (coalesce(col("weight_q"), lit(0L)) >= thresh).as("selected"))
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (lamT, barT) = ensureStore(spark, dir)
    val (thresh, lam0) = barOf(spark, barT)
    serveFrom(spark, Tables.documents(spark, dir), lamT, thresh, lam0)
      .orderBy(col("doc_id"))
  }

  /** q77's chain + the replayed frozen bar + the threshold verdict.
    * Shared verbatim by the ingest stream (s27): full corpus streamed
    * ⇒ exactly this batch serve (scoring is per-doc — epochs cannot
    * interact). */
  val oracle: Option[String] = Some {
    s"""
    WITH ${Q77DsirSelection.duckDsirCtes},
    selw AS (SELECT w.weight_q FROM sel JOIN wts w USING (doc_id)),
    th AS (SELECT min(weight_q) AS th FROM selw)
    SELECT d0.doc_id,
      COALESCE(w.n_grams, 0) AS n_grams,
      COALESCE(w.weight_q, 0) AS weight_q,
      COALESCE(w.weight_q, 0) >= (SELECT th FROM th) AS selected
    FROM (SELECT doc_id FROM documents) d0
    LEFT JOIN wts w ON w.doc_id = d0.doc_id
    ORDER BY d0.doc_id
  """.trim
  }
}
