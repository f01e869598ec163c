package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Q18g — the PERSISTED dedup-verdict (labels) store: q18f's converged
  * connected-component labels given the q57b/q60d Stores treatment.
  *
  * Why it exists: before this store, every downstream consumer of the
  * dup verdict — q42's corpus clean, q42b's full clean, q58's shard
  * assembly — re-derived the label closure from scratch (shingle two
  * pair pipelines, iterate min-label propagation), ~4 closure runs per
  * bench and, at 100 TB, four full-corpus passes for ONE logical
  * artifact. The production posture is compute-once: the verdict table
  * is built per corpus snapshot, fingerprinted, and every consumer
  * reads the bucketed table (`Q42CorpusClean.statusByDoc` now joins it
  * directly — the dup gate is a table scan, plan-asserted in
  * Round13Spec).
  *
  * Store family (shared [[graft.plans.Stores]] lifecycle — fingerprint
  * naming, commit markers, cross-process build lock, stale-incarnation
  * eviction):
  *  - `labels` — (id, lbl) converged rows from [[Q18fDedupClusters
  *    .labels]], bucketed by `id` (16): the doc_id join in every
  *    consumer is zero-exchange on the store side.
  *  - `bands` — (doc_id, sig, bkey) full-corpus MinHash band rows
  *    (the SAME [[Q18bDedupMinHash.signatures]] stage the closure's
  *    pair pipeline uses), bucketed by `bkey` (16): the admission
  *    index, so [[admit]] can attach arriving docs to existing
  *    clusters with delta-sized work instead of a full rebuild.
  *
  * [[admit]] semantics (incremental, documented approximation): an
  * arriving doc that band-collides with a stored doc at estimated
  * Jaccard ≥ 0.5 joins that doc's cluster (best base by est_jaccard,
  * ties to min doc_id — q57b's rule); otherwise it founds its own
  * singleton cluster. Admission ATTACHES to clusters but never MERGES
  * two existing clusters (that needs the full closure, which is the
  * fingerprint-triggered rebuild's job — exactly the batch/incremental
  * split a production dedup service runs). Admitted docs' band rows
  * are appended through the same bucket spec, so a later wave dedups
  * against earlier waves too (Round13Spec drives the two-wave chain).
  *
  * Serve tier (`run`) reproduces q18f's cluster report FROM the store
  * — same recursive-CTE oracle as q18f, so the driver hash-checks that
  * the persisted labels are exactly the closure's output.
  *
  * 100 TB posture: build once per corpus snapshot (the closure's cost,
  * paid exactly once — not per consumer), serve as bucketed scans;
  * admission is O(delta bands × collided buckets). The labels table is
  * 2 longs per PAIRED doc (docs with no near-dup pair carry no row),
  * orders of magnitude under the corpus. */
object Q18gDedupLabelsStore extends GraftQuery {
  val name = "q18g_dedup_labels_store"
  private val prefix = "graft_lblstore"

  /** Build (or bind) this corpus snapshot's (labelsTable, bandsTable).
    * Layout v2 adds the `_adm` admission tag (−1 = build) that the
    * epoch-guarded batch admit scrubs by (VERDICT r13 #3); binding
    * also resolves any torn admission a crashed writer left. */
  private[graft] def ensureStore(spark: SparkSession,
      dir: String): (String, String) = {
    val names = graft.plans.Stores.ensure(
        spark, prefix, dir, Seq("labels", "bands"),
        buckets = Map("labels" -> (("id", 16)), "bands" -> (("bkey", 16))),
        layoutVersion = "2") {
        case Seq(labelsT, bandsT) =>
      graft.plans.Bucketing.writeBucketed(
        Q18fDedupClusters.labels(spark, dir).withColumn("_adm", lit(-1L)),
        labelsT, "id", 16)
      graft.plans.Bucketing.writeBucketed(
        Q18bDedupMinHash.bandRows(Tables.documents(spark, dir))
          .withColumn("_adm", lit(-1L)),
        bandsT, "bkey", 16)
    }
    scrubTorn(spark, names(0), names(1))
    (names(0), names(1))
  }

  /** Resolve any torn admission (intent logged, no commit): rewrite
    * labels/bands without the torn `_adm` rows. Idempotent; no-op
    * when the log is absent or fully resolved. No derived scalars to
    * recompute in this family. */
  private[graft] def scrubTorn(spark: SparkSession, labelsT: String,
      bandsT: String): Seq[Long] =
    graft.plans.AdmitLog.scrub(spark, Seq(labelsT, bandsT)) { () }

  /** Converged (id, lbl) labels SERVED FROM THE STORE — the drop-in
    * replacement for [[Q18fDedupClusters.labels]] that
    * `Q42CorpusClean.statusByDoc` (and through it q42b/q58) consumes:
    * a bucketed table scan, no closure recompute. */
  private[graft] def labels(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensureStore(spark, dir)._1).select(col("id"), col("lbl"))

  /** ADMIT a delta of arriving documents: attach each to the cluster
    * of its best stored near-dup (or found a singleton), append the
    * new label rows and the delta's band rows to the store, and return
    * the admitted (id, lbl) rows.
    *
    * EXACTLY-ONCE through [[graft.plans.AdmitLog.admit]]: appended
    * rows carry this admission's `_adm` id, the commit lands after
    * BOTH appends, and a crash in between is scrubbed by the next
    * bind/admit. `injectCrashAfter` (spec hook, 0 = off): 1 throws
    * between the labels and bands appends. */
  private[graft] def admit(spark: SparkSession, docs: DataFrame,
      labelsT: String, bandsT: String,
      injectCrashAfter: Int = 0): DataFrame = {
    scrubTorn(spark, labelsT, bandsT)
    // Delta-sized: band the arrivals once, join only collided buckets.
    val dbands = Q18bDedupMinHash.bandRows(docs).localCheckpoint(true)
    val bstore = spark.table(bandsT)
      .select(col("bkey"), col("doc_id").as("cand"), col("sig").as("bsig"))
    val best = dbands
      .select(col("doc_id").as("delta_id"), col("sig").as("dsig"), col("bkey"))
      .join(bstore, "bkey")
      .dropDuplicates("delta_id", "cand")
      .select(col("delta_id"), col("cand"),
        (expr(NorthStar.matchCountExpr("dsig", "bsig")).cast("double") / 32.0)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .withColumn("rk", row_number().over(Window.partitionBy(col("delta_id"))
        .orderBy(col("est_jaccard").desc, col("cand").asc)))
      .filter(col("rk") === 1)
      .select(col("delta_id"), col("cand"))
    // The attached cluster is the base's stored label; a base with no
    // label row is an unpaired singleton, so its cluster id is itself.
    val lbls = spark.table(labelsT)
      .select(col("id").as("cand"), col("lbl").as("cand_lbl"))
    val admitted = docs.select(col("doc_id"))
      .join(best.join(lbls, Seq("cand"), "left")
          .select(col("delta_id").as("doc_id"),
            coalesce(col("cand_lbl"), col("cand")).as("attach_lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id").as("id"),
        coalesce(col("attach_lbl"), col("doc_id")).as("lbl"))
      .localCheckpoint(true)
    graft.plans.AdmitLog.admit(spark,
      Seq(labelsT -> admitted, bandsT -> dbands), injectCrashAfter) { () }
    admitted
  }

  /** q18f's cluster report, FROM the persisted labels — the driver
    * hash-checks it against the same recursive-CTE closure oracle. */
  def run(spark: SparkSession, dir: String): DataFrame =
    labels(spark, dir).groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(sort_array(collect_set(col("id"))), " ").as("doc_ids"))
      .orderBy(col("cluster_id"))

  /** SAME oracle as q18f: the store must serve exactly the closure. */
  val oracle: Option[String] = Q18fDedupClusters.oracle
}
