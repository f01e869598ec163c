package graft.plans

import org.apache.spark.sql.SparkSession

/** REGISTRY of persisted store families (round 19, VERDICT r18 #5).
  *
  * Rounds 13–18 hardened store recovery (commit markers, AdmitLog
  * exactly-once, torn-part read-repair), but the COVERAGE of those
  * guards was enumerated by hand — a new store family could land with
  * an unguarded serve path and nothing would notice until a killed
  * ingest made it unreadable. This registry closes the loop
  * structurally:
  *
  *  - [[Stores.ensure]] REQUIRES every production (`graft_`-prefixed)
  *    family to be registered here — an unregistered family fails its
  *    first ensure with a pointer to this file, so the list cannot go
  *    stale (test-scoped stores use non-`graft_` prefixes and are
  *    exempt);
  *  - each entry carries the family's production SERVE path and
  *    (for APPENDABLE families — those taking post-build admits or
  *    streaming ingests, where a hard-killed writer can leave a torn
  *    part under a valid commit marker) the resolved table names;
  *  - [[serveGuarded]] drills an appendable family BEHAVIORALLY:
  *    clear [[GuardTrace]], run the serve, and check that a recovery
  *    guard ([[ReadRepair.repairTable]] or [[AdmitLog.scrub]])
  *    touched the family's tables. Round19Spec asserts it for every
  *    appendable family at HEAD and that a synthetic unguarded family
  *    FAILS the same check.
  *
  * Write-once families (no post-build append path) are safe by the
  * [[Stores.ensure]] marker protocol alone — a killed BUILD leaves no
  * marker and the next ensure rebuilds — so they register with
  * `appendable = false` and no drill. */
private[graft] object FamilyRegistry {

  final case class StoreFamily(
      prefix: String,
      appendable: Boolean,
      /** Bind/build and return the family's table names (appendable
        * families; write-once families return Nil — nothing to drill). */
      tables: (SparkSession, String) => Seq[String],
      /** The production read path (the one a consumer takes). */
      serve: (SparkSession, String) => Unit,
      /** Index into [[tables]] of the APPEND-TARGET table — where a
        * killed ingest's torn part lands; the registry-driven SIGKILL
        * drill tears this one. */
      drillIdx: Int = 0,
      /** True when the family's torn-row recovery runs through
        * [[AdmitLog.scrub]] in its `ensureStore` (the guard only
        * engages on a TORN INTENT, so the drill must open a real
        * admission before tearing — exactly the state a killed
        * `admit` leaves). Every batch-admit family is log-guarded,
        * since every batch admit runs through [[AdmitLog.admit]]; the
        * ANN indexes are the exception — their appends are streaming
        * ingests, recovered by unconditional serve-side
        * [[ReadRepair]], which needs no intent. */
      logGuarded: Boolean = false)

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  val families: Seq[StoreFamily] = {
    import graft.queries._
    import graft.multimodal._
    Seq(
      StoreFamily("graft_sigstore", appendable = true,
        (s, d) => { val (b, e) = Q57bDeltaDedupStore.ensureStore(s, d); Seq(b, e) },
        (s, d) => noop(Q57bDeltaDedupStore.run(s, d)),
        logGuarded = true),
      StoreFamily("graft_lblstore", appendable = true,
        (s, d) => { val (l, b) = Q18gDedupLabelsStore.ensureStore(s, d); Seq(l, b) },
        (s, d) => noop(Q18gDedupLabelsStore.run(s, d)),
        drillIdx = 1, logGuarded = true),
      StoreFamily("graft_bm25store", appendable = true,
        (s, d) => { val (p, l, m) = Q74bBm25Store.ensureStore(s, d); Seq(p, l, m) },
        (s, d) => noop(Q74bBm25Store.run(s, d)),
        logGuarded = true),
      StoreFamily("graft_spanstore", appendable = true,
        (s, d) => Seq(Q60dExciseStore.ensureStore(s, d)),
        (s, d) => noop(Q60dExciseStore.run(s, d)),
        logGuarded = true),
      StoreFamily("graft_annstore", appendable = true,
        (s, d) => { val (c, l) = Q19eAnnIvfStore.ensureStore(s, d); Seq(c, l) },
        (s, d) => noop(Q19eAnnIvfStore.run(s, d)),
        drillIdx = 1),
      StoreFamily("graft_s19index", appendable = true,
        (s, d) => { val (c, l) = Q19eAnnIvfStore.ensureTrainStore(s, d); Seq(c, l) },
        (s, d) => {
          val (c, l) = Q19eAnnIvfStore.ensureTrainStore(s, d)
          noop(Q19eAnnIvfStore.query(s, d, c, l, Q19dAnnIvf.NProbe))
        },
        drillIdx = 1),
      StoreFamily("graft_imgstore", appendable = true,
        (s, d) => Seq(Q25fImageDedupStore.ensureStore(s, d)),
        (s, d) => noop(Q25fImageDedupStore.run(s, d)),
        logGuarded = true),
      StoreFamily("graft_audstore", appendable = true,
        (s, d) => Seq(Q25hAudioDedupStore.ensureStore(s, d)),
        (s, d) => noop(Q25hAudioDedupStore.run(s, d)),
        logGuarded = true),
      StoreFamily("graft_vidstore", appendable = true,
        (s, d) => Seq(Q25jVideoDedupStore.ensureStore(s, d)),
        (s, d) => noop(Q25jVideoDedupStore.run(s, d)),
        logGuarded = true),
      // Write-once families: build is atomic under the ensure marker;
      // a serve needs no torn-append guard because nothing appends.
      StoreFamily("graft_aggstore", appendable = false,
        (_, _) => Nil, (s, d) => noop(Q65IncrementalStats.run(s, d))),
      StoreFamily("graft_semstore", appendable = false,
        (_, _) => Nil, (s, d) => noop(Q70bSemanticDedupStore.run(s, d))),
      StoreFamily("graft_clfstore", appendable = false,
        (_, _) => Nil, (s, d) => noop(Q55bTrainedClassifier.run(s, d))),
      StoreFamily("graft_pqstore", appendable = false,
        (_, _) => Nil, (s, d) => noop(Q19gAnnPq.run(s, d))),
      StoreFamily("graft_dsirstore", appendable = false,
        (_, _) => Nil, (s, d) => noop(Q77dDsirStore.run(s, d))),
      StoreFamily("graft_bpestore", appendable = false,
        (_, _) => Nil, (s, d) => noop(Q64eBpeEncodeStore.run(s, d))),
      StoreFamily("graft_wpstore", appendable = false,
        (_, _) => Nil, (s, d) => noop(Q64jWordpieceEncodeStore.run(s, d))),
      StoreFamily("graft_unistore", appendable = false,
        (_, _) => Nil, (s, d) => noop(Q64kUnigramEncodeStore.run(s, d))),
      StoreFamily("graft_dgvocab", appendable = false,
        (_, _) => Nil, (s, d) => noop(Q64nBpeDriftGatedStore.run(s, d))),
      StoreFamily("graft_dgwp", appendable = false,
        (_, _) => Nil, (s, d) => noop(Q64oWordpieceDriftGatedStore.run(s, d))),
      StoreFamily("graft_dguni", appendable = false,
        (_, _) => Nil, (s, d) => noop(Q64pUnigramDriftGatedStore.run(s, d))),
      StoreFamily("graft_driftrpt", appendable = false,
        (_, _) => Nil, (s, d) => noop(Q78DriftConsole.run(s, d))),
      StoreFamily("graft_s26rpt", appendable = false,
        (_, _) => Nil,
        (s, d) => noop(graft.streaming.S26StreamDriftGate.run(s, d)))
    )
  }

  private lazy val prefixes: Set[String] = families.map(_.prefix).toSet

  /** The [[Stores.ensure]] registration gate (see object Scaladoc). */
  def isRegistered(prefix: String): Boolean = prefixes.contains(prefix)

  /** Behavioral guard drill: does this family's serve run under a
    * recovery guard on at least one of its tables (directly repaired,
    * or scrubbed through its admission log)? */
  def serveGuarded(spark: SparkSession, dir: String,
      fam: StoreFamily): Boolean = {
    val tables = fam.tables(spark, dir)
    GuardTrace.clear()
    fam.serve(spark, dir)
    val touched = GuardTrace.snapshot()
    tables.exists(t => touched.contains(t) ||
      touched.contains(AdmitLog.logTableOf(t)))
  }
}
