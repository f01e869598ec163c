package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Q57 — DELTA dedup: dedupe an incoming shard against the existing
  * corpus — the incremental-ingest shape (a crawl refresh lands and
  * must not re-admit what the corpus already holds), which the q18
  * family doesn't cover: q18b/q18f dedupe a corpus against ITSELF.
  * The corpus is partitioned by q40's deterministic md5-nibble key
  * (train = existing corpus, test = incoming delta) so the operator
  * is reproducible without side state.
  *
  * One verdict per delta doc, exact over near over new:
  *  - `exact_dup`: md5(text) equi-join against the base — at scale a
  *    128-bit hash shuffle, never text; lowest base id wins;
  *  - `near_dup`: the delta's MinHash band rows joined on band key to
  *    the base's, verified at est_jaccard ≥ 0.5; best base by
  *    (est_jaccard desc, base_id asc);
  *  - `new`: everything else, kept in the output (an ingest audit
  *    must account for every arriving doc).
  *
  * q57 is q57b with the store recomputed: its base side is the
  * store's two row builders ([[Q57bDeltaDedupStore.exactRows]],
  * [[Q18bDedupMinHash.bandRows]]) over the train split, checkpointed
  * for this run instead of persisted, and the rest is q57b's serve —
  * the same delta rows and the same [[Q57bDeltaDedupStore
  * .verdictFrame]]. The DuckDB oracle keeps the independent
  * self-join + window spelling, so "recompute = store = stream" is
  * checked against SQL that shares none of this code.
  *
  * est_jaccard is k/32 — exactly representable binary, surfaced
  * UNROUNDED so both engines hash the identical double. Scale shape:
  * the band join is blocked (never all-pairs), and the verdict is one
  * aggregation per delta doc over its band collisions, not over the
  * corpus.
  */
object Q57DeltaDedup extends GraftQuery {
  val name = "q57_delta_dedup"

  /** The corpus side, recomputed per run: (doc_id, th) and
    * (doc_id, sig, bkey) rows of the train split — the rows q57b's
    * store holds — each checkpointed narrow (never text). Shared with
    * s12, whose stream-static joins would otherwise re-scan and
    * re-sign the corpus every trigger. */
  private[graft] def baseRows(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = Q57bDeltaDedupStore.trainDocs(spark, dir)
    (Q57bDeltaDedupStore.exactRows(base).localCheckpoint(),
      Q18bDedupMinHash.bandRows(base).localCheckpoint())
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (baseHash, baseBands) = baseRows(spark, dir)
    Q57bDeltaDedupStore.serve(spark, dir, baseHash, baseBands)
  }

  private[queries] val oracleSqlText = s"""
    WITH ${NorthStar.duckShingleCtes},
    ${NorthStar.duckMinhashPairCtes},
    hsx AS (SELECT doc_id, ${Q40TrainTestSplit.duckSplit} AS split, md5(text) AS th
            FROM documents),
    exact AS (SELECT d.doc_id, min(b.doc_id) AS exact_base
              FROM hsx d JOIN hsx b ON d.th = b.th
              WHERE d.split = 'test' AND b.split = 'train'
              GROUP BY d.doc_id),
    xp AS (SELECT p.doc_a, p.doc_b, p.est_jaccard, a.split AS split_a, b.split AS split_b
           FROM pairs p JOIN hsx a ON p.doc_a = a.doc_id JOIN hsx b ON p.doc_b = b.doc_id
           WHERE a.split <> b.split),
    oriented AS (SELECT
        CASE WHEN split_a = 'test' THEN doc_a ELSE doc_b END AS delta_id,
        CASE WHEN split_a = 'test' THEN doc_b ELSE doc_a END AS cand_base,
        est_jaccard
      FROM xp),
    near AS (SELECT delta_id AS doc_id, cand_base AS near_base, est_jaccard AS near_jac
             FROM (SELECT delta_id, cand_base, est_jaccard,
                   row_number() OVER (PARTITION BY delta_id
                     ORDER BY est_jaccard DESC, cand_base ASC) AS rk
                   FROM oriented)
             WHERE rk = 1)
    SELECT d.doc_id,
      CASE WHEN e.exact_base IS NOT NULL THEN 'exact_dup'
           WHEN n.near_base IS NOT NULL THEN 'near_dup'
           ELSE 'new' END AS verdict,
      coalesce(e.exact_base, n.near_base) AS base_id,
      CASE WHEN e.exact_base IS NULL THEN n.near_jac ELSE NULL END AS est_jaccard
    FROM hsx d LEFT JOIN exact e ON d.doc_id = e.doc_id
               LEFT JOIN near n ON d.doc_id = n.doc_id
    WHERE d.split = 'test'
    ORDER BY d.doc_id
  """.trim

  val oracle = Some(oracleSqlText)
}

/** Q57b — delta dedup against a PERSISTED signature store: the
  * production shape of q57. q57 recomputes every corpus signature on
  * every run; a real 100 TB ingest amortizes them — the corpus-side
  * MinHash band rows (doc_id, sig, bkey) and exact-tier content
  * hashes (doc_id, th) are written ONCE, bucketed by their join keys
  * (band key / content hash), and each arriving delta only hashes
  * ITSELF and joins against the store. Per-ingest cost is then
  * O(delta) + a join whose store side reads pre-partitioned buckets
  * with NO exchange (pay the corpus shuffle once at write time, reuse
  * it every ingest — the q12c "persist the mergeable sketch" pattern
  * applied to dedup). Round10Spec pins the posture: the incremental
  * plan's only parquet scans are the two store tables, and the store
  * side of the band join has no shuffle.
  *
  * The store tables embed a fingerprint of the corpus files
  * (driver-side metadata only — names, lengths, mtimes) so a store
  * built from different or regenerated data can never serve stale
  * rows; Verify in a fresh JVM rebuilds because the in-memory catalog
  * forgot the table, and repeated runs in one session reuse it.
  *
  * This object is the text delta-dedup family, as
  * [[graft.multimodal.BandedHashStore]] is the media one: the two row
  * builders ([[exactRows]], [[Q18bDedupMinHash.bandRows]]) write the
  * store, its admits and q57's per-run base, and [[verdictFrame]] is
  * the one verdict of q57, q57b, s12 and s12b — so all four share
  * q57's oracle by construction. */
object Q57bDeltaDedupStore extends GraftQuery {
  val name = "q57b_delta_dedup_store"
  private val prefix = "graft_sigstore"

  /** Build the corpus-side store if this fingerprint's tables are
    * absent; returns (bandsTable, exactTable). Naming, staleness
    * eviction, and synchronization live in [[graft.plans.Stores]]
    * (the shared persisted-derived-store machinery). Layout v2 adds
    * the `_adm` admission tag (−1 = build) the exactly-once admit
    * scrubs by; every resolve then scrubs a torn admission, so each
    * reader of the store (this serve and s12b's stream) is guarded. */
  private[graft] def ensureStore(spark: SparkSession, dir: String): (String, String) = {
    val names = graft.plans.Stores.ensure(
        spark, prefix, dir, Seq("bands", "exact"),
        buckets = Map("bands" -> (("bkey", 16)), "exact" -> (("th", 16))),
        layoutVersion = "2") {
        case Seq(bandsT, exactT) =>
      val base = trainDocs(spark, dir)
      graft.plans.Bucketing.writeBucketed(
        exactRows(base).withColumn("_adm", lit(-1L)), exactT, "th", 16)
      graft.plans.Bucketing.writeBucketed(
        Q18bDedupMinHash.bandRows(base).withColumn("_adm", lit(-1L)),
        bandsT, "bkey", 16)
    }
    scrubTorn(spark, names(0), names(1))
    (names(0), names(1))
  }

  /** The existing corpus: the train split of `documents`. */
  private[queries] def trainDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(Q40TrainTestSplit.splitCol === "train")

  /** (doc_id, th) exact-tier rows of a (doc_id, text) frame, batch or
    * streaming — the store's second row builder, beside
    * [[Q18bDedupMinHash.bandRows]]. */
  private[graft] def exactRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("th"))

  /** The one verdict: three stateless branches — the exact hash join,
    * the verified band join, and every delta doc as `new` — unioned
    * into ONE aggregation per doc, min(struct(priority, 32 − matches,
    * base_id)): exact over near over new, then the highest estimate,
    * then the lowest base id, all integer comparisons. One shuffle on
    * doc_id decides the verdict, and the same plan runs as a stream's
    * stateful aggregation, its state one row per delta doc.
    *
    * `delta` is (doc_id, th) and `deltaBands` (doc_id, sig, bkey) —
    * the row builders over the delta, batch or streaming; `baseHash`
    * and `baseBands` are the same shapes over the base — the store
    * tables or q57's checkpointed rows. */
  private[graft] def verdictFrame(delta: DataFrame, deltaBands: DataFrame,
      baseHash: DataFrame, baseBands: DataFrame): DataFrame = {
    val exact = delta
      .join(baseHash.select(col("th"), col("doc_id").as("base_id")), "th")
      .select(col("doc_id"), lit(0).as("pri"), lit(0).as("negest"),
        col("base_id"))
    val near = deltaBands
      .select(col("doc_id"), col("sig").as("dsig"), col("bkey"))
      .join(baseBands.select(col("bkey"), col("doc_id").as("base_id"),
        col("sig").as("bsig")), "bkey")
      .select(col("doc_id"), col("base_id"),
        expr(NorthStar.matchCountExpr("dsig", "bsig")).as("matches"))
      .filter(col("matches") >= 16) // est_jaccard >= 0.5
      .select(col("doc_id"), lit(1).as("pri"),
        (lit(32) - col("matches")).as("negest"), col("base_id"))
    val fresh = delta.select(col("doc_id"), lit(2).as("pri"),
      lit(0).as("negest"), lit(null).cast("long").as("base_id"))
    exact.unionByName(near).unionByName(fresh)
      .groupBy(col("doc_id"))
      .agg(min(struct(col("pri"), col("negest"), col("base_id"))).as("b"))
  }

  /** Verdict rows → the audit contract (doc_id, verdict, base_id,
    * est_jaccard), est_jaccard only on `near_dup`. */
  private[graft] def formatVerdicts(best: DataFrame): DataFrame =
    best.select(col("doc_id"),
        when(col("b.pri") === 0, lit("exact_dup"))
          .when(col("b.pri") === 1, lit("near_dup"))
          .otherwise(lit("new")).as("verdict"),
        col("b.base_id").as("base_id"),
        when(col("b.pri") === 1,
          (lit(32) - col("b.negest")).cast("double") / 32.0d)
          .otherwise(lit(null).cast("double")).as("est_jaccard"))
      .orderBy(col("doc_id"))

  /** The batch serve over any base side: the test-split delta is read
    * once into a checkpoint (the three verdict branches would
    * otherwise re-scan it; delta-sized, never corpus-sized), hashed
    * and banded by the store's own row builders, and judged by
    * [[verdictFrame]]. */
  private[queries] def serve(spark: SparkSession, dir: String,
      baseHash: DataFrame, baseBands: DataFrame): DataFrame = {
    val delta = Tables.documents(spark, dir)
      .filter(Q40TrainTestSplit.splitCol === "test")
      .select(col("doc_id"), col("text"))
      .localCheckpoint()
    formatVerdicts(verdictFrame(exactRows(delta),
      Q18bDedupMinHash.bandRows(delta), baseHash, baseBands))
  }

  /** Resolve any torn admission (intent logged, no commit): quarantine
    * torn parts and rewrite bands/exact without its `_adm` rows. No
    * derived scalars in this family. */
  private def scrubTorn(spark: SparkSession, bandsT: String,
      exactT: String): Seq[Long] =
    graft.plans.AdmitLog.scrub(spark, Seq(bandsT, exactT)) { () }

  /** The COMMIT step of an ingest: append the admitted ("new")
    * documents' band rows and content hashes to the store, so the
    * NEXT delta dedups against them too — without this, two arriving
    * shards that duplicate each other (but nothing in the base
    * corpus) would both be admitted. Delta-sized work through
    * [[graft.plans.AdmitLog.admit]]: exactly-once (a crashed admit is
    * scrubbed by the next resolve, so replaying the delta lands it
    * once), and at most one new file per bucket, so the zero-exchange
    * join posture survives the append. Mutating by design: the store
    * is the LIVE corpus index — the dir fingerprint in the table name
    * tracks the base snapshot it was seeded from, and admitted deltas
    * accumulate on top (`Bucketing.compact` bounds the file count).
    * Round10Spec drives a two-wave ingest: wave 2's copy of a
    * wave-1-admitted doc is flagged against the UPDATED store.
    * `injectCrashAfter` (spec hook, 0 = off): 1 throws after the
    * bands append, 2 just before the commit. */
  private[graft] def admit(spark: SparkSession, docs: DataFrame,
      bandsT: String, exactT: String, injectCrashAfter: Int = 0): Unit = {
    scrubTorn(spark, bandsT, exactT)
    graft.plans.AdmitLog.admit(spark,
      Seq(bandsT -> Q18bDedupMinHash.bandRows(docs), exactT -> exactRows(docs)),
      injectCrashAfter) { () }
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (bandsT, exactT) = ensureStore(spark, dir)
    serve(spark, dir, spark.table(exactT), spark.table(bandsT))
  }

  /** Identical output contract to q57 — the oracle is shared. */
  val oracle = Some(Q57DeltaDedup.oracleSqlText)
}
