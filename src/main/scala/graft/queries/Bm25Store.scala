package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Q74b — BM25 served from the PERSISTED inverted-index store: q74's
  * production shape. q74 re-tokenizes the corpus per query batch —
  * correct, but at 100 TB the index is built ONCE per corpus snapshot
  * and every query batch is index-sized work, which is exactly the
  * split a search service runs (and the same build/serve split the
  * repo's store column established: q57b signatures, q18g labels,
  * q19e ANN lists, q64e/q64j/q64k vocabularies).
  *
  * Store family (shared [[graft.plans.Stores]] lifecycle):
  *  - `postings` — (word, doc_id, tf), bucketed by `word` (16): the
  *    inverted index. A query batch reads only the buckets its terms
  *    hash to: the terms are driver-known literals, so the serve plan
  *    carries an `isin` filter on the bucket column — the shape
  *    Spark's static bucket pruning engages on (a broadcast join
  *    alone filters map-side but still SCANS every bucket; VERDICT
  *    r13 #1) — and Round13gSpec asserts the selected-bucket count.
  *    The broadcast term join stays, to attach query_ids.
  *  - `lengths` — (doc_id, dl), bucketed by `doc_id` (16): the BM25
  *    length normalizer.
  *  - `meta` — one row (n_docs, tot_tokens): the exact scalars; read
  *    with one O(1) head().
  *
  * Serve = [[Q74Bm25.rank]] — the SAME scoring/ranking plan as the
  * recompute tier (tiers cannot drift), fed from store scans instead
  * of a corpus tokenize. df for the ≤|Q| distinct terms falls out of
  * the scanned postings slice (already one row per (doc, word)), so
  * no df table is persisted — it is never corpus-scale work.
  *
  * SHARES q74's oracle: the two tiers must be row-identical, and the
  * driver hash-gate holds the store to the recompute semantics. */
object Q74bBm25Store extends GraftQuery {
  val name = "q74b_bm25_store"
  private val prefix = "graft_bm25store"

  /** Build (or bind) this corpus snapshot's (postings, lengths, meta).
    * Layout v2: postings carry the sorted positions array (the q74c
    * phrase tier's input — [[Q74Bm25.postingsOf]]); v3 adds the
    * `_adm` admission tag (−1 = build) that the epoch-guarded batch
    * admit scrubs by (VERDICT r13 #3). Version bumps retire older
    * incarnations through the normal stale-store sweep. Binding also
    * resolves any TORN admission a crashed writer left behind —
    * detection is one tiny admission-log read. */
  private[graft] def ensureStore(spark: SparkSession,
      dir: String): (String, String, String) = {
    val names = graft.plans.Stores.ensure(
        spark, prefix, dir, Seq("postings", "lengths", "meta"),
        buckets = Map("postings" -> (("word", PostingsBuckets)),
          "lengths" -> (("doc_id", PostingsBuckets))),
        layoutVersion = "3") { case Seq(postT, lenT, metaT) =>
      val docs = graft.Tables.documents(spark, dir)
      graft.plans.Bucketing.writeBucketed(
        Q74Bm25.postingsOf(docs).withColumn("_adm", lit(-1L)),
        postT, "word", PostingsBuckets)
      graft.plans.Bucketing.writeBucketed(
        lengthsOf(docs).withColumn("_adm", lit(-1L)), lenT,
        "doc_id", PostingsBuckets)
      spark.sql(s"DROP TABLE IF EXISTS $metaT")
      graft.plans.Stores.deleteTree(
        graft.plans.Stores.warehouse(spark).resolve(metaT))
      writeMeta(spark, lenT, metaT)
    }
    scrubTorn(spark, names(0), names(1), names(2))
    (names(0), names(1), names(2))
  }

  /** (doc_id, dl) BM25 length rows of `docs` — shared by build and
    * [[admit]], as [[Q74Bm25.postingsOf]] is for the postings. */
  private def lengthsOf(docs: DataFrame): DataFrame =
    Q74Bm25.wordsOf(docs).groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))

  /** The meta scalars, recomputed from the lengths table — shared by
    * build, admit, and the torn-admission scrub. */
  private def writeMeta(spark: SparkSession, lenT: String,
      metaT: String): Unit = {
    val agg = spark.table(lenT)
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).cast("long").as("tot_tokens"))
    // insertInto on an existing table keeps the catalog entry — the
    // rewrite path must work on a re-BOUND external meta table too
    // (saveAsTable(Overwrite) there would re-create managed over the
    // populated location and throw); saveAsTable only at first build.
    if (spark.catalog.tableExists(metaT))
      agg.write.mode(SaveMode.Overwrite).insertInto(metaT)
    else
      agg.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(metaT)
    spark.catalog.refreshTable(metaT)
  }

  /** Resolve any torn admission (intent logged, no commit): rewrite
    * postings/lengths without the torn `_adm` rows, recompute meta.
    * Idempotent; no-op when the log is absent or fully resolved. */
  private[graft] def scrubTorn(spark: SparkSession, postT: String,
      lenT: String, metaT: String): Seq[Long] =
    graft.plans.AdmitLog.scrub(spark, Seq(postT, lenT))(
      writeMeta(spark, lenT, metaT))

  /** Serve BM25 from a bound (postings, lengths, meta) family —
    * shared by `run` and the admission spec so the post-admit serve
    * is exactly the store serve. */
  private[graft] def serveFrom(spark: SparkSession, postT: String,
      lenT: String, metaT: String): DataFrame =
    Q74Bm25.topK(scoredFrom(spark, postT, lenT, metaT), 10)

  /** The PRE-window scored frame from the store — q74b's serve short
    * of ranking; the store-armed hybrid fusion (q75b) reads it
    * 20-deep, exactly as q75 reads [[Q74Bm25.lexScores]]. */
  private[graft] def scoredFrom(spark: SparkSession, postT: String,
      lenT: String, metaT: String): DataFrame = {
    import spark.implicits._
    scoredFromQueries(spark, postT, lenT, metaT,
      Q74Bm25.querySet.flatMap { case (q, ts) => ts.map(q -> _) }
        .toDF("query_id", "word"))
  }

  /** Hard batch ceiling — the documented driver-scale contract (10⁴
    * queries ≈ 10⁵ strings, the same bound the O(K) centroid reads
    * document). Above it the serve fails loudly instead of OOMing the
    * driver (ADVICE r15: the old 10⁶ cap was unpriced — plan work
    * blows up long before driver memory does). */
  private[graft] val MaxTerms = 100000
  /** The postings store's bucket count (shared by both bucketed
    * tables of this family). */
  private[graft] val PostingsBuckets = 16
  /** Largest batch served through the literal `isin` (the static
    * bucket prune's input shape) — OCCUPANCY-derived, not a flat cap:
    * n uniform terms hit B(1 − (1−1/B)^n) of B buckets in
    * expectation, so past n ≈ 4·B the prune reads ~every bucket
    * anyway (15.7 of 16 at n = 64) while the literal's plan-analysis
    * cost keeps growing LINEARLY in n — measured at the old flat 10⁴
    * cap: 4–5 s of pure planning for a prune worth nothing
    * (BASELINE round-16 contract-edge rows; the broadcast fallback
    * plans the same batch in ~0.7 s). Production stores tune B and
    * this bound together — at 4096 buckets the literal stays worth
    * carrying through ~16k terms. */
  private[graft] val LiteralPruneMaxTerms = 4 * PostingsBuckets

  /** [[scoredFrom]] over a CALLER-PROVIDED (query_id, word) query
    * table — the production entry point (VERDICT r14 next #5): a
    * search service receives query batches, not compile-time
    * constants. Up to [[LiteralPruneMaxTerms]] distinct terms, the
    * batch is collected ONCE and re-materialized as the literal `isin`
    * on the bucketed word column — the shape that engages STATIC
    * bucket pruning (SelectedBucketsCount ≤ |terms|); a broadcast join
    * alone would scan all 16 buckets and filter map-side (VERDICT r13
    * #1). Larger batches (≤ [[MaxTerms]]) take the broadcast join
    * alone: at that width every bucket is occupied anyway, so the lost
    * static prune is worth ~nothing while the literal's planning cost
    * is real (VERDICT r15 #3). The broadcast query join then attaches
    * query_ids. */
  private[graft] def scoredFromQueries(spark: SparkSession, postT: String,
      lenT: String, metaT: String, queries: DataFrame): DataFrame = {
    val meta = spark.table(metaT).head()
    // Dedupe the caller's pairs: a batch built by tokenizing query
    // text repeats terms ("big data big models" → two (q, big) rows),
    // and an un-deduped qterms join would add that term's BM25 weight
    // twice and inflate `matched` — silently wrong scores. BM25 term
    // frequency saturation lives in tf, never in query multiplicity.
    val qpairs = queries.select(col("query_id"), col("word")).distinct()
    val qwords = qpairs.select(col("word")).distinct()
    // Loud contract (the admit-replay-guard rule): the driver-scale
    // assumption is enforced, not hoped — a corpus-sized frame passed
    // as a "query batch" fails here instead of OOMing the driver.
    val terms = qwords.limit(MaxTerms + 1).collect().map(_.getString(0)).toSeq
    require(terms.size <= MaxTerms,
      s"query batch exceeds the driver-scale contract (> $MaxTerms " +
        "distinct terms) — shard the batch across serves")
    val pruned = spark.table(postT)
    val tf =
      (if (terms.size <= LiteralPruneMaxTerms)
         pruned.filter(col("word").isin(terms: _*)) // static bucket prune
       else pruned)
        .join(broadcast(qwords), Seq("word"))
    Q74Bm25.scoresOver(spark, tf, spark.table(lenT),
      meta.getLong(0), meta.getLong(1), qpairs)
  }

  /** ADMIT a delta of arriving documents: append their postings and
    * length rows and rewrite the meta scalars LAST (every BM25
    * statistic is additive — postings, dl, N and Σdl — so
    * admitted-serve equals a full rebuild over corpus ∪ delta, which
    * the spec pins row-for-row).
    *
    * EXACTLY-ONCE through [[graft.plans.AdmitLog.admit]]: rows are
    * tagged with this admission's id, the commit marker lands only
    * AFTER the meta rewrite, and a crash anywhere in between is
    * scrubbed (rows removed, meta recomputed) by the next
    * bind/admit instead of requiring a fingerprint rebuild. doc_ids
    * must be new (the s23 invariant); re-admitting a doc would
    * double its postings — ENFORCED below (ADVICE r13): a replayed
    * delta fails loudly instead of silently corrupting scores. The
    * check is delta ⋉ lengths — a doc_id-bucketed semi-join,
    * delta-sized work.
    *
    * `injectCrashAfter` is the failure-injection hook for the spec
    * (0 = off): 1 throws after the postings append (lengths/meta
    * untouched), 2 throws after both appends + meta rewrite but
    * BEFORE the commit marker — the two torn states recovery must
    * handle. */
  private[graft] def admit(spark: SparkSession, docs: DataFrame,
      postT: String, lenT: String, metaT: String,
      injectCrashAfter: Int = 0): Unit = {
    scrubTorn(spark, postT, lenT, metaT)
    val replayed = docs.select(col("doc_id"))
      .join(spark.table(lenT), Seq("doc_id"), "left_semi")
    require(replayed.isEmpty,
      s"admit(): delta re-admits doc_ids already in $lenT " +
        s"(e.g. ${replayed.limit(3).collect().mkString(", ")}) — " +
        "replaying a delta would double-count postings")
    graft.plans.AdmitLog.admit(spark,
      Seq(postT -> Q74Bm25.postingsOf(docs), lenT -> lengthsOf(docs)),
      injectCrashAfter)(writeMeta(spark, lenT, metaT))
  }

  /** Operational COMPACTION for the batch admit waves (VERDICT r18
    * #3 — the s23b trade, applied to the PERSISTED family in place):
    * every [[admit]] appends up to one file per bucket to postings
    * AND lengths, so ingest-heavy stores pay ingest-count×(open +
    * footer) per bucket at serve. Compacts both bucketed tables back
    * to ≤ [[PostingsBuckets]] files each through their own specs; any
    * torn admission is scrubbed FIRST so its partial rows are excised
    * rather than compacted into the fresh copy (after which the
    * `_adm` tags are compaction-invariant — a later scrub still sees
    * them). meta is one row and never fragments. Round19Spec pins
    * file-count collapse + serve row-identity over ≥20 waves. */
  private[graft] def compactStore(spark: SparkSession, postT: String,
      lenT: String, metaT: String): Unit = {
    scrubTorn(spark, postT, lenT, metaT)
    graft.plans.Bucketing.compact(spark, postT, "word", PostingsBuckets)
    graft.plans.Bucketing.compact(spark, lenT, "doc_id", PostingsBuckets)
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (postT, lenT, metaT) = ensureStore(spark, dir)
    serveFrom(spark, postT, lenT, metaT)
  }

  /** SAME oracle as q74: the store must serve exactly the recompute. */
  val oracle: Option[String] = Q74Bm25.oracle
}

/** Q74c — PHRASE QUERIES over the positional postings store: the gap
  * any real retrieval user hits within the first week (VERDICT r13
  * missing #3 / next #7). The postings store (layout v2) carries each
  * (word, doc) occurrence's sorted positions array — positions are
  * 1-based indexes among the retained normalized words
  * ([[Q74Bm25.wordsPosOf]]) — and a phrase [t1..tk] matches doc d at
  * base p iff t_i's positions contain p+i−1 for every i.
  *
  * Serve shape (the q74b posture, now with the engaged bucket prune):
  * the literal `isin` on the bucketed word column prunes the scan to
  * ≤|phrase terms| buckets; a broadcast join attaches (query_id, term
  * index, phrase length); one keyed aggregation gathers the ≤k
  * positions arrays per (query, doc); the adjacency check is a pure
  * array expression (filter+forall over the first term's positions —
  * no explode back to occurrence rows, so the shuffle carries one row
  * per CANDIDATE doc, not per occurrence). Docs rank by occurrence
  * count desc, doc_id asc, top 10 per query.
  *
  * Positions are additive exactly like tf, so [[Q74bBm25Store.admit]]
  * and the s23 stream maintenance carry the phrase tier for free —
  * Round14Spec pins admitted-serve ≡ rebuild for phrases too. */
object Q74cBm25PhraseStore extends GraftQuery {
  val name = "q74c_phrase_store"

  /** (query_id, phrase) — adjacent-word phrases drawn from the
    * fixture generator's closed vocabulary (bigram + trigram coverage
    * verified present at sf0.001/0.01/0.1). */
  private[graft] val phraseSet: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("table", "hash"),
    2 -> Seq("stream", "window"),
    3 -> Seq("row", "column", "sort"))

  /** Occurrence count over `ps` (the per-(query, doc) positions
    * arrays sorted by term index): bases p of term 1 where each later
    * term i sits at p+i−1. The size(ps)=1 arm guards sequence()'s
    * descending-on-empty-range semantics; phrases here are ≥2 terms,
    * but the expression must not silently misfire if a 1-term phrase
    * is ever configured. Shared with the phrase-boost tier (q74d). */
  private[queries] val occurrencesExpr: String =
    "cast(size(filter(element_at(ps, 1), p_ -> size(ps) = 1 OR " +
      "forall(sequence(1, size(ps) - 1), i_ -> " +
      "array_contains(element_at(ps, i_ + 1), p_ + i_)))) as bigint)"

  /** Serve phrase matches from a bound postings table — shared by
    * `run` and the admission spec (post-admit phrase serve must be
    * exactly this plan over the appended store). */
  private[graft] def serveFrom(spark: SparkSession,
      postT: String): DataFrame =
    serveFromFrame(spark, spark.table(postT))

  /** The same serve over ANY (word, doc_id, tf, positions) frame —
    * the streamed-index phrase tier (s25) points it at s23's
    * accumulated postings. On a word-bucketed store table the isin
    * filter below statically prunes buckets; on an epoch-append
    * stream table it is a pushed scan filter — same plan, layout
    * decides the prune. `phrases` is CALLER-PROVIDED (the q74f rule:
    * a phrase batch is data, not a compile-time constant); the
    * compiled-in [[phraseSet]] is just the default batch. */
  private[graft] def serveFromFrame(spark: SparkSession,
      post: DataFrame,
      phrases: Seq[(Int, Seq[String])] = phraseSet): DataFrame = {
    import spark.implicits._
    val terms = phrases.flatMap(_._2).distinct
    val qterms = phrases.flatMap { case (q, ts) =>
      ts.zipWithIndex.map { case (w, i) => (q, i + 1, ts.length, w) } }
      .toDF("query_id", "ti", "plen", "word")
    val cand = post
      .filter(col("word").isin(terms: _*)) // static bucket prune
      .join(broadcast(qterms), Seq("word"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(first(col("plen")).as("plen"),
        count(lit(1)).as("nterms"),
        expr("transform(array_sort(collect_list(struct(ti, positions))), " +
          "x_ -> x_.positions)").as("ps"))
      // every phrase term present in the doc, else no base can match
      .filter(col("nterms") === col("plen"))
      .withColumn("n_occurrences", expr(Q74cBm25PhraseStore.occurrencesExpr))
      .filter(col("n_occurrences") > 0)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_occurrences").desc, col("doc_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("n_occurrences"))
      .orderBy(col("query_id"), col("rank"))
  }

  def run(spark: SparkSession, dir: String): DataFrame =
    serveFrom(spark, Q74bBm25Store.ensureStore(spark, dir)._1)

  /** Independent DuckDB formulation: positions from an indexed unnest
    * of the filtered token array; a phrase occurrence is a base where
    * every term index is present (count(DISTINCT ti) = phrase len). */
  val oracle: Option[String] = Some {
    val qvals = phraseSet.flatMap { case (q, ts) =>
      ts.zipWithIndex.map { case (w, i) => s"($q, ${i + 1}, ${ts.length}, '$w')" }
    }.mkString(", ")
    raw"""
    WITH base AS (SELECT doc_id,
        list_filter(list_transform(string_split_regex(text, '\s+'),
          x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
          w_ -> w_ <> '') AS t
      FROM documents),
    p AS (SELECT doc_id, CAST(wi AS INT) AS pos, t[CAST(wi AS INT)] AS word
          FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS wi FROM base)),
    q(query_id, ti, plen, word) AS (VALUES $qvals),
    m AS (SELECT q.query_id, p.doc_id, q.ti, q.plen, p.pos - q.ti + 1 AS base
          FROM p JOIN q ON p.word = q.word),
    occ AS (SELECT query_id, doc_id, base
            FROM m GROUP BY query_id, doc_id, base, plen
            HAVING count(DISTINCT ti) = plen),
    cnt AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
            FROM occ GROUP BY 1, 2),
    r AS (SELECT query_id, doc_id, n_occurrences,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY n_occurrences DESC, doc_id ASC) AS INT) AS rank
          FROM cnt)
    SELECT query_id, rank, doc_id, n_occurrences
    FROM r WHERE rank <= 10 ORDER BY query_id, rank
  """.trim
  }
}

/** Q74d — PHRASE-BOOSTED BM25: mixed term + phrase retrieval from the
  * positional store, scored by the PHRASE-AS-VIRTUAL-TERM model (the
  * INQUERY/Indri practice): each query's phrase becomes one extra
  * term key whose tf is its exact occurrence count (q74c's adjacency
  * machinery) and whose df is the number of docs containing the
  * phrase — then EVERYTHING flows through q74's own Okapi scoring
  * plan ([[Q74Bm25.scoresOver]]), so the boosted tier can never drift
  * from the plain tier's arithmetic. A doc matching the phrase gains
  * exactly one more saturating BM25 term; docs matching only terms
  * rank by the unboosted score.
  *
  * Serve shape: ONE bucket-pruned postings scan serves both arms
  * (literal `isin` over terms ∪ phrase words), the phrase arm
  * aggregates positions per (phrase, doc) exactly like q74c, the
  * union of real and virtual term rows enters one scoring pass. df
  * for the virtual key falls out of the unified tf frame — one row
  * per (doc, key) — with no extra corpus work.
  *
  * Determinism: the per-(query, doc) score is q74's sorted-struct
  * fold; phrase keys ("table hash") contain a space, which sorts
  * before letters in BOTH engines' binary ASCII orders, so the fold
  * order is pinned. Occurrence counts are exact integers. */
object Q74dBm25PhraseBoost extends GraftQuery {
  val name = "q74d_bm25_phrase_boost"

  /** (query_id, terms, phrase) — terms from q74's query set, phrases
    * from q74c's verified fixture phrases. */
  private[graft] val querySet: Seq[(Int, Seq[String], Seq[String])] = Seq(
    (1, Seq("spark", "join", "fast"), Seq("table", "hash")),
    (2, Seq("hash", "table"), Seq("stream", "window")),
    (3, Seq("stream", "window", "agg"), Seq("row", "column", "sort")))

  private def phraseKey(ts: Seq[String]) = ts.mkString(" ")

  private[graft] def serveFrom(spark: SparkSession, postT: String,
      lenT: String, metaT: String): DataFrame = {
    import spark.implicits._
    val meta = spark.table(metaT).head()
    val allWords = querySet.flatMap { case (_, ts, ph) => ts ++ ph }.distinct
    // One pruned scan shape serves both arms (consumed twice — each
    // consumption is a bucket-pruned index read, never the corpus).
    def post = spark.table(postT).filter(col("word").isin(allWords: _*))
    val termWords = querySet.flatMap(_._2).distinct
    val termTf = post.filter(col("word").isin(termWords: _*))
      .select(col("doc_id"), col("word"), col("tf"))
    val pq = querySet.flatMap { case (_, _, ph) =>
      val key = phraseKey(ph)
      ph.zipWithIndex.map { case (w, i) => (key, i + 1, ph.length, w) }
    }.distinct.toDF("pkey", "ti", "plen", "word")
    val phraseTf = post
      .join(broadcast(pq), Seq("word"))
      .groupBy(col("pkey"), col("doc_id"))
      .agg(first(col("plen")).as("plen"),
        count(lit(1)).as("nterms"),
        expr("transform(array_sort(collect_list(struct(ti, positions))), " +
          "x_ -> x_.positions)").as("ps"))
      .filter(col("nterms") === col("plen"))
      .withColumn("tf", expr(Q74cBm25PhraseStore.occurrencesExpr))
      .filter(col("tf") > 0)
      .select(col("doc_id"), col("pkey").as("word"), col("tf"))
      // Pinned: the scoring tail consumes the unified frame TWICE (df
      // rollup + scored chain — the q74 tf-barrier note), and without
      // the barrier each branch re-runs the phrase aggregation. The
      // frame is (phrase, matching-doc)-scale — tiny. The term arm
      // stays un-pinned so the bucket-pruned scan remains visible to
      // the plan asserts (and is itself just an index read).
      .localCheckpoint(true)
    val unified = termTf.unionByName(phraseTf)
    val qterms = (querySet.flatMap { case (q, ts, _) => ts.map(q -> _) } ++
      querySet.map { case (q, _, ph) => q -> phraseKey(ph) })
      .toDF("query_id", "word")
    Q74Bm25.topK(Q74Bm25.scoresOver(spark, unified, spark.table(lenT),
      meta.getLong(0), meta.getLong(1), qterms), 10)
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (postT, lenT, metaT) = Q74bBm25Store.ensureStore(spark, dir)
    serveFrom(spark, postT, lenT, metaT)
  }

  /** Independent DuckDB formulation: positions from the indexed
    * unnest, term tf + phrase occurrence counts unioned as one term
    * table, then q74's Okapi formula and ranking verbatim. */
  val oracle: Option[String] = Some {
    val tqVals = querySet.flatMap { case (q, ts, _) =>
      ts.map(t => s"($q, '$t')") }.mkString(", ")
    val qVals = (querySet.flatMap { case (q, ts, _) =>
      ts.map(t => s"($q, '$t')") } ++
      querySet.map { case (q, _, ph) => s"($q, '${phraseKey(ph)}')" })
      .mkString(", ")
    val pqVals = querySet.flatMap { case (_, _, ph) =>
      val key = phraseKey(ph)
      ph.zipWithIndex.map { case (w, i) =>
        s"('$key', ${i + 1}, ${ph.length}, '$w')" }
    }.distinct.mkString(", ")
    raw"""
    WITH base AS (SELECT doc_id,
        list_filter(list_transform(string_split_regex(text, '\s+'),
          x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
          w_ -> w_ <> '') AS t
      FROM documents),
    p AS (SELECT doc_id, CAST(wi AS INT) AS pos, t[CAST(wi AS INT)] AS word
          FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS wi FROM base)),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM p GROUP BY doc_id),
    scal AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
    tq(query_id, word) AS (VALUES $tqVals),
    tw AS (SELECT DISTINCT word FROM tq),
    ttf AS (SELECT p.doc_id, p.word, CAST(count(*) AS BIGINT) AS tf
            FROM p JOIN tw ON p.word = tw.word GROUP BY 1, 2),
    pqv(pkey, ti, plen, word) AS (VALUES $pqVals),
    m AS (SELECT pq.pkey, p.doc_id, pq.ti, pq.plen, p.pos - pq.ti + 1 AS base
          FROM p JOIN pqv pq ON p.word = pq.word),
    occ AS (SELECT pkey, doc_id, base
            FROM m GROUP BY pkey, doc_id, base, plen
            HAVING count(DISTINCT ti) = plen),
    ptf AS (SELECT doc_id, pkey AS word, CAST(count(*) AS BIGINT) AS tf
            FROM occ GROUP BY 1, 2),
    utf AS (SELECT * FROM ttf UNION ALL SELECT * FROM ptf),
    df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM utf GROUP BY word),
    q(query_id, word) AS (VALUES $qVals),
    t AS (SELECT q.query_id, utf.doc_id, utf.word,
        ln((CAST((SELECT n FROM scal) AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
             / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
        * (CAST(utf.tf AS DOUBLE) * 2.2)
        / (CAST(utf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
             / (CAST((SELECT tot FROM scal) AS DOUBLE) / CAST((SELECT n FROM scal) AS DOUBLE)))) AS term
      FROM utf
      JOIN df ON utf.word = df.word
      JOIN dl ON utf.doc_id = dl.doc_id
      JOIN q ON q.word = utf.word),
    s AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS matched,
            round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list(term ORDER BY word ASC)), (a_, x_) -> a_ + x_), 4) AS score
          FROM t GROUP BY query_id, doc_id),
    r AS (SELECT query_id, doc_id, score, matched,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
          FROM s)
    SELECT query_id, rank, doc_id, score, matched
    FROM r WHERE rank <= 10 ORDER BY query_id, rank
  """.trim
  }
}

/** Q74e — PROXIMITY-BOOSTED BM25 (Tao & Zhai 2007, "An Exploration of
  * Proximity Measures in Information Retrieval"): their best-
  * performing proximity feature — MinDist, the minimum distance
  * between occurrences of two DIFFERENT query terms in the doc —
  * folded into the retrieval score as the paper's π(d) = ln(α +
  * e^(−MinDist)) with α = 1, added to the BM25 sum. Completes the
  * positional family's query types: adjacency (q74c), phrase-as-term
  * (q74d), and here unordered proximity — terms NEAR each other
  * score above the same terms far apart, without requiring order.
  *
  * All from the positional store: the BM25 arm is q74b's scored
  * frame verbatim; the proximity arm gathers each (query, doc)'s
  * query-term occurrences from the SAME bucket-pruned postings scan
  * and takes the min cross-term distance — an order-independent
  * aggregate, so the nondeterministic collect order cannot leak.
  *
  * EXACTNESS: MinDist is an exact integer (two different terms never
  * share a position); π is INTEGER-QUANTIZED (⌊10⁶·ln(1+e^(−d))⌋ —
  * the q64h technique; for d ≳ 40, 1+e^(−d) == 1.0 exactly and the
  * boost is exactly 0), and the final score is ONE IEEE add of the
  * rounded-4 BM25 double and π/10⁶ — identical operands in both
  * engines ⇒ identical sum bits ⇒ identical ranking. Docs with < 2
  * distinct query terms present carry mindist 0 (the no-pair
  * sentinel; a real cross-term distance is ≥ 1) and boost 0. */
object Q74eBm25ProximityBoost extends GraftQuery {
  val name = "q74e_bm25_proximity_boost"

  private[graft] def serveFrom(spark: SparkSession, postT: String,
      lenT: String, metaT: String): DataFrame = {
    val boosted = boostedScored(spark, postT, lenT, metaT)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    boosted.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("score"), col("matched"), col("mindist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The PRE-window proximity-boosted frame (query_id, doc_id, score,
    * matched, mindist) — [[serveFrom]] caps it at 10; the three-arm
    * fusion (q75c) ranks it ArmDepth-deep as its proximity arm. */
  private[graft] def boostedScored(spark: SparkSession, postT: String,
      lenT: String, metaT: String): DataFrame =
    boostedScoredFor(spark, postT, lenT, metaT, Q74Bm25.querySet)

  /** The same boosted frame over a CALLER-PROVIDED query set — the
    * q74f rule applied to the proximity tier: a query batch is data,
    * not a compile-time constant; the table-driven fusion (q75d)
    * threads its batch through here. `ti` tags terms only for the
    * cross-term MinDist pair filter (a.ti ≠ b.ti), so its assignment
    * order cannot affect the result. */
  private[graft] def boostedScoredFor(spark: SparkSession, postT: String,
      lenT: String, metaT: String,
      qs: Seq[(Int, Seq[String])]): DataFrame = {
    import spark.implicits._
    val terms = qs.flatMap(_._2).distinct
    val qterms = qs.flatMap { case (q, ts) =>
      ts.zipWithIndex.map { case (w, i) => (q, i + 1, w) } }
      .toDF("query_id", "ti", "word")
    val prox = spark.table(postT)
      .filter(col("word").isin(terms: _*)) // static bucket prune
      .join(broadcast(qterms), Seq("word"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(flatten(collect_list(expr(
        "transform(positions, p_ -> named_struct('ti', ti, 'p', p_))")))
        .as("occ"))
      .withColumn("mindist", coalesce(expr(
        "array_min(flatten(transform(occ, a_ -> " +
          "transform(filter(occ, b_ -> b_.ti != a_.ti), " +
          "b_ -> abs(a_.p - b_.p)))))"), lit(0)).cast("long"))
      .withColumn("pi_q", expr(
        "CASE WHEN mindist = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE cast(floor(1000000 * ln(1.0 + exp(-cast(mindist as double)))) as bigint) END"))
      .select(col("query_id"), col("doc_id"), col("mindist"), col("pi_q"))
    val scored = Q74bBm25Store.scoredFromQueries(spark, postT, lenT, metaT,
      qs.flatMap { case (q, ts) => ts.map(q -> _) }.toDF("query_id", "word"))
    scored.join(prox, Seq("query_id", "doc_id"))
      .withColumn("score",
        col("score") + col("pi_q").cast("double") / lit(1000000.0))
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (postT, lenT, metaT) = Q74bBm25Store.ensureStore(spark, dir)
    serveFrom(spark, postT, lenT, metaT)
  }

  /** CTE chain `pbase..boosted(query_id, doc_id, score, matched,
    * mindist)` — the proximity-boosted scoring, assuming
    * [[Q74Bm25.duckLexCtes]]'s `s` is in scope. Shared by q74e's own
    * oracle and the three-arm fusion's (q75c), so the proximity arm
    * cannot drift between gates. */
  private[queries] val duckProxCtes: String =
    duckProxCtesFor(Q74Bm25.querySet)

  /** The same chain over an arbitrary query set — the table-driven
    * fusion's oracle (q75d) replays its batch through it. */
  private[queries] def duckProxCtesFor(
      qs: Seq[(Int, Seq[String])]): String = {
    val qvals = qs.flatMap { case (q, ts) =>
      ts.zipWithIndex.map { case (w, i) => s"($q, ${i + 1}, '$w')" } }
      .mkString(", ")
    raw"""pbase AS (SELECT doc_id,
        list_filter(list_transform(string_split_regex(text, '\s+'),
          x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
          w_ -> w_ <> '') AS t
      FROM documents),
    p AS (SELECT doc_id, CAST(wi AS INT) AS pos, t[CAST(wi AS INT)] AS word
          FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS wi FROM pbase)),
    qt(query_id, ti, word) AS (VALUES $qvals),
    occ AS (SELECT qt.query_id, p.doc_id, qt.ti, p.pos
            FROM p JOIN qt ON p.word = qt.word),
    md AS (SELECT a.query_id, a.doc_id,
            CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS mindist
          FROM occ a JOIN occ b
            ON a.query_id = b.query_id AND a.doc_id = b.doc_id
           AND a.ti <> b.ti
          GROUP BY 1, 2),
    boosted AS (SELECT s.query_id, s.doc_id,
            s.score + CAST(CASE WHEN md.mindist IS NULL THEN 0
              ELSE CAST(floor(1000000 * ln(1.0 + exp(-CAST(md.mindist AS DOUBLE)))) AS BIGINT)
              END AS DOUBLE) / 1000000.0 AS score,
            s.matched,
            COALESCE(md.mindist, 0) AS mindist
          FROM s LEFT JOIN md
            ON md.query_id = s.query_id AND md.doc_id = s.doc_id)"""
  }

  /** q74's lexical CTEs (shared — the BM25 arm cannot drift) + a
    * cross-term occurrence self-join for MinDist + the quantized π. */
  val oracle: Option[String] = Some {
    raw"""
    WITH ${Q74Bm25.duckLexCtes},
    $duckProxCtes,
    r AS (SELECT query_id, doc_id, score, matched, mindist,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id ASC) AS INT) AS rank
          FROM boosted)
    SELECT query_id, rank, doc_id, score, matched, mindist
    FROM r WHERE rank <= 10 ORDER BY query_id, rank
  """.trim
  }
}

/** Q74f — BM25 over a DRIVER-PROVIDED QUERY TABLE (VERDICT r14 next
  * #5): the production entry point of the store serve. q74b's query
  * set is a compile-time constant — fine for the oracle harness, but
  * a search service receives each batch as DATA: a (query_id, word)
  * table. [[Q74bBm25Store.scoredFromQueries]] accepts exactly that
  * frame; this entry drives it with a batch DISTINCT from the
  * compiled-in set (so the parameterization is exercised, not the
  * default), and the plan must keep the engaged bucket prune: the
  * batch's distinct terms are collected once (query batches are
  * driver-scale by contract) into the literal `isin` the static
  * pruner consumes — Round15Spec plan-asserts SelectedBucketsCount ≤
  * |terms| like q74b's own gate. Scoring is [[Q74Bm25.scoresOver]]
  * verbatim: the table-driven serve can never drift from the
  * constant-driven tiers. */
object Q74fBm25QueryTable extends GraftQuery {
  val name = "q74f_bm25_query_table"

  /** The batch this entry replays — deliberately disjoint query_ids
    * and mostly-different terms from [[Q74Bm25.querySet]]. */
  private[graft] val batch: Seq[(Int, Seq[String])] = Seq(
    10 -> Seq("merge", "scan", "batch"),
    11 -> Seq("filter", "vector"),
    12 -> Seq("group", "key", "order"),
    13 -> Seq("slow", "big", "join"))

  private[graft] def queriesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    batch.flatMap { case (q, ts) => ts.map(q -> _) }
      .toDF("query_id", "word")
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (postT, lenT, metaT) = Q74bBm25Store.ensureStore(spark, dir)
    Q74Bm25.topK(Q74bBm25Store.scoredFromQueries(
      spark, postT, lenT, metaT, queriesDf(spark)), 10)
  }

  /** q74's CTE chain replayed over THIS batch. */
  val oracle: Option[String] = Some(s"""
    WITH ${Q74Bm25.duckLexCtesFor(batch)},
    r AS (SELECT query_id, doc_id, score, matched,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
          FROM s)
    SELECT query_id, rank, doc_id, score, matched
    FROM r WHERE rank <= 10 ORDER BY query_id, rank
  """.trim)
}
