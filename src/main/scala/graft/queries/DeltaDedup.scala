package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  * Two tiers, one verdict per delta doc (exact wins over near):
  *  - `exact_dup`: md5(text) equi-join against the base — at scale a
  *    128-bit hash shuffle, never text;
  *  - `near_dup`: q18b's MinHash band pipeline over the WHOLE corpus
  *    once (signatures and band keys are side-agnostic — computing
  *    them per side would run the signature stage twice), then the
  *    undirected candidate pairs filtered to cross-split ones; best
  *    base per delta doc by (est_jaccard desc, base_id asc);
  *  - `new`: everything else, kept in the output (an ingest audit
  *    must account for every arriving doc).
  *
  * est_jaccard is k/32 — exactly representable binary, surfaced
  * UNROUNDED so both engines hash the identical double. Scale shape:
  * the band join is blocked (never all-pairs); the per-delta-doc
  * window ranks a candidate list bounded by band collisions, not by
  * corpus size.
  */
object Q57DeltaDedup extends GraftQuery {
  val name = "q57_delta_dedup"

  def run(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint is the materialization barrier: the hashed frame
    // feeds FIVE plan branches (both exact-tier sides, both split
    // attachments, the final delta frame) with different filters, so
    // exchange reuse can't apply (predicate pushdown would sink each
    // branch's filter below a repartition) and without a barrier the
    // documents scan + full-text md5 run five times. The checkpointed
    // frame is 3 narrow columns — corpus-count-sized, never text-sized.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), Q40TrainTestSplit.splitCol.as("split"),
        md5(col("text")).as("th"))
      .localCheckpoint()
    val exact = docs.filter(col("split") === "test").as("d")
      .join(docs.filter(col("split") === "train").as("b"),
        col("d.th") === col("b.th"))
      .groupBy(col("d.doc_id").as("doc_id"))
      .agg(min(col("b.doc_id")).as("exact_base"))
    // undirected MinHash candidates (q18b's pipeline, signatures
    // computed once for both sides); the split labels ride INTO the
    // band join so within-split pairs die before the 32-term verify
    // and pair-dedup shuffle (~2/3 of candidates under the 13/16
    // split), and the surviving cross-split pairs are oriented
    // delta → base via the same narrow label frame
    val split = docs.select(col("doc_id"), col("split"))
    val pairs = Q18bDedupMinHash
      .pairsFrom(NorthStar.shingleSets(spark, dir), Some(split))
      .join(split.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(split.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        when(col("sa.split") === "test", col("doc_a")).otherwise(col("doc_b"))
          .as("delta_id"),
        when(col("sa.split") === "test", col("doc_b")).otherwise(col("doc_a"))
          .as("cand_base"),
        col("est_jaccard"))
    val near = pairs
      .withColumn("rk", row_number().over(Window.partitionBy(col("delta_id"))
        .orderBy(col("est_jaccard").desc, col("cand_base").asc)))
      .filter(col("rk") === 1)
      .select(col("delta_id").as("doc_id"), col("cand_base").as("near_base"),
        col("est_jaccard").as("near_jac"))
    docs.filter(col("split") === "test").select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_base").isNotNull, lit("exact_dup"))
          .when(col("near_base").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("exact_base"), col("near_base")).as("base_id"),
        when(col("exact_base").isNull, col("near_jac"))
          .otherwise(lit(null).cast("double")).as("est_jaccard"))
      .orderBy(col("doc_id"))
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
  * Same verdict semantics and SAME ORACLE as q57: signatures and
  * banding geometry come from the shared [[Q18bDedupMinHash
  * .signatures]] stage, the store join yields exactly the cross-split
  * band-collision pairs q57's self-join yields, and the per-delta-doc
  * best-base rule is identical — so equality with q57 holds by
  * construction and the driver hash-checks it against the identical
  * SQL. */
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
      val base = Tables.documents(spark, dir)
        .filter(Q40TrainTestSplit.splitCol === "train")
      graft.plans.Bucketing.writeBucketed(
        exactRows(base).withColumn("_adm", lit(-1L)), exactT, "th", 16)
      graft.plans.Bucketing.writeBucketed(
        Q18bDedupMinHash.bandRows(base).withColumn("_adm", lit(-1L)),
        bandsT, "bkey", 16)
    }
    scrubTorn(spark, names(0), names(1))
    (names(0), names(1))
  }

  /** (doc_id, th) exact-tier rows — shared by build and [[admit]]. */
  private def exactRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("th"))

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
    // The delta frame is everything the incremental query reads from
    // the corpus dir: one scan producing (doc_id, content hash,
    // shingle set — null when <3 tokens, which still participates in
    // the exact tier). localCheckpoint is the barrier: three plan
    // branches (exact side, signature pipeline, final audit spine)
    // would otherwise re-scan the delta three times. Delta-sized,
    // never corpus-sized.
    val delta = Tables.documents(spark, dir)
      .filter(Q40TrainTestSplit.splitCol === "test")
      .select(col("doc_id"), md5(col("text")).as("th"),
        expr(NorthStar.toksExpr).as("t"))
      .select(col("doc_id"), col("th"),
        when(size(col("t")) >= 3,
          expr(NorthStar.let("t", "t", NorthStar.shinglesExpr))).as("sh"))
      .localCheckpoint()
    val exact = delta.select(col("doc_id"), col("th"))
      .join(spark.table(exactT).select(col("th"), col("doc_id").as("base_id")),
        "th")
      .groupBy(col("doc_id"))
      .agg(min(col("base_id")).as("exact_base"))
    val dbands = Q18bDedupMinHash.signatures(
        delta.filter(col("sh").isNotNull).select(col("doc_id"), col("sh")))
      .select(col("doc_id").as("delta_id"), col("sig").as("dsig"),
        explode(expr(NorthStar.let("sg", "sig",
          NorthStar.bandKeysExpr("sg")))).as("bkey"))
    val bstore = spark.table(bandsT)
      .select(col("bkey"), col("doc_id").as("cand_base"), col("sig").as("bsig"))
    val near = dbands.join(bstore, "bkey")
      .select(col("delta_id"), col("cand_base"), col("dsig"), col("bsig"))
      .dropDuplicates("delta_id", "cand_base")
      .select(col("delta_id"), col("cand_base"),
        (expr(NorthStar.matchCountExpr("dsig", "bsig")).cast("double") / 32.0)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .withColumn("rk", row_number().over(Window.partitionBy(col("delta_id"))
        .orderBy(col("est_jaccard").desc, col("cand_base").asc)))
      .filter(col("rk") === 1)
      .select(col("delta_id").as("doc_id"), col("cand_base").as("near_base"),
        col("est_jaccard").as("near_jac"))
    delta.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_base").isNotNull, lit("exact_dup"))
          .when(col("near_base").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("exact_base"), col("near_base")).as("base_id"),
        when(col("exact_base").isNull, col("near_jac"))
          .otherwise(lit(null).cast("double")).as("est_jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Identical output contract to q57 — the oracle is shared. */
  val oracle = Some(Q57DeltaDedup.oracleSqlText)
}
