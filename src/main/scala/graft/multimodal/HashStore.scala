package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{GraftQuery, Q40TrainTestSplit}

/** Generic persisted BANDED-HASH dedup store — the q57b/s12b store
  * lifecycle over ANY 64-bit perceptual-hash family, factored out of
  * the image store (q25f) so the audio tier (q25h) is an
  * instantiation, not a near-copy. Everything modality-specific —
  * how a (media_id, dhash) feature frame is produced, and the oracle
  * that replays it — stays with the instantiating operator; the
  * store machinery (banding geometry from the Hamming threshold,
  * lossless exact-dup collapse, bucketed build, delta-sized admit,
  * banded verdict join, audit formatting) is hash-family-agnostic
  * because every step consumes only the 16-hex fingerprint.
  *
  * 100 TB posture (inherited by every instantiation): the store
  * holds C(nBands, 2) short rows per DISTINCT corpus hash (never
  * media bytes — the band-PAIR layout, see [[bandRows]]); a delta
  * ingest fingerprints only itself and joins pre-bucketed parquet
  * with no store-side exchange; the stateful verdict side is one
  * struct row per delta item. */
private[graft] final class BandedHashStore(
    val prefix: String, val maxHamming: Int) {
  import Q25dImageNearDup.bandBitsFor

  /** Policy-picked band geometry for the ≤ [[maxHamming]] threshold. */
  private val bandBits = bandBitsFor(maxHamming)
  private val nBands = 64 / bandBits
  private val hexPerBand = bandBits / 4

  /** The store buckets on band PAIRS (the LSH AND-construction, r=2):
    * C(nBands, 2) buckets per hash, each keyed by BOTH band
    * substrings. Pigeonhole: ≤ nBands−2 differing bits leave ≥ 2
    * clean bands, so every pair within [[maxHamming]] still shares
    * the bucket of its clean pair — recall holds through EXACTLY the
    * contract threshold (single bands covered nBands−1, one more
    * than needed, and paid for the slack: 8-bit keys over a
    * LOW-ENTROPY fingerprint family — audio contours of similar
    * docs — drove bucket occupancy² to 41 M candidate pairs and a
    * 165 s serve at the 100× corpus; 16-bit pair keys cut per-bucket
    * collision ~256× for 3.5× more store rows). */
  require(maxHamming <= nBands - 2,
    s"pair-band recall covers Hamming <= ${nBands - 2}, got $maxHamming")
  private[graft] val bandPairs: Seq[(Int, Int)] =
    for { i <- 0 until nBands; j <- (i + 1) until nBands } yield (i, j)

  /** One row per (band-pair, key) bucket of each hash; the pair index
    * is part of the key so pair (0,1)'s bytes can never collide with
    * pair (2,3)'s. */
  private[graft] def bandRows(feats: DataFrame): DataFrame =
    feats.select(col("media_id"), col("dhash"),
      explode(array(bandPairs.zipWithIndex.map { case ((i, j), p) =>
        concat(lit(s"$p:"),
          substring(col("dhash"), i * hexPerBand + 1, hexPerBand),
          substring(col("dhash"), j * hexPerBand + 1, hexPerBand))
      }: _*)).as("bkey"))

  /** EXACT-DUP COLLAPSE before the near-dup join: Hamming distance
    * is a function of the HASH alone and the best-base rule is
    * min(hamming, base_id), so a group sharing one hash is losslessly
    * one row carrying the group's min id — the structural answer to
    * exact re-uploads, measured 3.2× on the image store's 100× serve
    * (BASELINE third decade). */
  private[graft] def collapse(feats: DataFrame): DataFrame =
    feats.groupBy(col("dhash"))
      .agg(min(col("media_id")).as("media_id"))
      .select(col("media_id"), col("dhash"))

  /** Build (or bind) the fingerprinted band store for this corpus
    * snapshot; `corpus` is evaluated only on a cold build. Naming,
    * staleness eviction, cross-process locking live in
    * [[graft.plans.Stores]]. */
  private[graft] def ensureStore(spark: SparkSession, dir: String)(
      corpus: => DataFrame): String = {
    val names = graft.plans.Stores.ensure(
        spark, prefix, dir, Seq("bands"),
        buckets = Map("bands" -> (("bkey", 16))),
        layoutVersion = "3" /* band-PAIR buckets; _adm admission tag */) {
        case Seq(bandsT) =>
      graft.plans.Bucketing.writeBucketed(
        bandRows(collapse(corpus)).withColumn("_adm", lit(-1L)),
        bandsT, "bkey", 16)
    }
    scrubTorn(spark, names.head)
    names.head
  }

  /** Resolve any torn admission (intent logged, no commit): quarantine
    * torn part files ([[graft.plans.ReadRepair]], inside scrub) and
    * rewrite the bands table without the torn `_adm` rows — the store
    * is then EXACTLY its pre-append state, so the caller's re-admit
    * (verdictFrame + `verdict == 'new'` filter against the restored
    * store) replays the whole ingest decision, not just the append
    * (round-18: the media twin of the bm25 guard; before this, a
    * killed media admit's partially-landed READABLE rows survived and
    * could shift future best-base picks). No derived scalars here. */
  private[graft] def scrubTorn(spark: SparkSession, bandsT: String): Seq[Long] =
    graft.plans.AdmitLog.scrub(spark, Seq(bandsT)) { () }

  /** The store read frame: (bkey, base_id, base_dhash). Scrubbed
    * first (VERDICT r17 #1 + the round-18 guard): repairs a torn
    * part AND excises a torn admission's surviving rows; every serve
    * path goes through this frame, so the one scrub covers the
    * family. The `_adm` tag never leaves the store. */
  private[graft] def storeFrame(spark: SparkSession, bandsT: String): DataFrame = {
    scrubTorn(spark, bandsT)
    spark.table(bandsT).select(col("bkey"),
      col("media_id").as("base_id"), col("dhash").as("base_dhash"))
  }

  /** The COMMIT step of an ingest: append band rows so the NEXT
    * delta dedups against them too — two arriving shards that
    * duplicate each other (but nothing in the base corpus) must not
    * both be admitted. CONTRACT: `feats` must be the items to append
    * verbatim — the caller filters this delta's [[verdictFrame]] to
    * `verdict == 'new'` first, because appending a raw delta
    * re-inserts dup hashes (store growth, and a dup row with a lower
    * media_id would shift future best-base picks). Delta-sized,
    * collapsed like the build; `Bucketing.compact` bounds file growth.
    *
    * EXACTLY-ONCE through [[graft.plans.AdmitLog.admit]] (at most one
    * new file per bucket): rows tagged with the admission id, commit
    * row appended only after the data append, and a crash anywhere
    * between is scrubbed by the next serve/admit instead of leaving
    * half an ingest's band rows live. `injectCrashAfter` (spec hook,
    * 0 = off): 1 throws after the data append, before the commit. */
  private[graft] def admit(feats: DataFrame, bandsT: String,
      injectCrashAfter: Int = 0): Unit = {
    val spark = feats.sparkSession
    scrubTorn(spark, bandsT)
    graft.plans.AdmitLog.admit(spark,
      Seq(bandsT -> bandRows(collapse(feats))), injectCrashAfter) { () }
  }

  /** Banded candidates + exact-Hamming verify + best-base pick over
    * any delta feature frame — batch or STREAMING: the candidate and
    * fresh branches are stateless stream-static joins / projections,
    * and the single stateful operator is the min-of-struct
    * aggregation, exactly the s12 shape. */
  /** Band-join candidates with FIRST-SHARED-PAIR dedup: a (delta,
    * base) pair that agrees on k bands collides in C(k, 2) buckets —
    * up to C(nBands, 2) duplicate verify rows per candidate under
    * heavy similarity. Keeping only the row whose bucket IS the
    * first band pair the two hashes share (a pure function of the
    * two hashes already in the row — stateless, so the streaming
    * twins inherit it; exactly one row per pair survives because a
    * colliding pair shares ≥ 1 clean pair) cuts the expensive
    * Hamming verify to one evaluation per pair.
    *
    * The hashes are parsed into 32-bit halves ONCE per join input
    * row (round 19 — [[Q25dImageNearDup.hexHiExpr]]): band agreement
    * and Hamming are then shift/xor/popcount on the xor halves
    * (`x_hi`/`x_lo`, carried in the output for [[verdictFrame]])
    * instead of per-pair hex parsing + substring compares — the
    * measured ~100 µs/pair CPU term that made every store serve
    * ~13 s flat (HISTORY.md round 19, item 1). */
  private[graft] def candidates(deltaFeats: DataFrame,
      store: DataFrame): DataFrame = {
    import Q25dImageNearDup.{hexHiExpr, hexLoExpr}
    val d = bandRows(deltaFeats)
      .withColumn("d_hi", expr(hexHiExpr("dhash")))
      .withColumn("d_lo", expr(hexLoExpr("dhash")))
      // the bucket's pair index, parsed once per DELTA band row
      // (never per candidate) — the join key carries the same value
      .withColumn("bp", expr("cast(split(bkey, ':')[0] as int)"))
    val s = store
      .withColumn("s_hi", expr(hexHiExpr("base_dhash")))
      .withColumn("s_lo", expr(hexLoExpr("base_dhash")))
    // First-shared-pair as ONE native codegen'd node
    // ([[graft.functions.FirstSharedBandPair]], round 19): spelled
    // with built-ins the predicate is a big alias tree, and when the
    // optimizer pushes it into the SortMergeJoin condition the
    // aliases inline ~15× into a ~500-node condition that falls out
    // of whole-stage codegen — measured ~80 µs per joined row, 10 s
    // of a 14 s serve at 100× (HISTORY.md round 19, item 1b). As a
    // single expression node the pushdown is harmless: wherever it
    // lands, it is one ~30-op static Java call per candidate.
    d.join(s, Seq("bkey"))
      .filter(expr(
        s"bp = graft_first_pair(d_hi ^ s_hi, d_lo ^ s_lo, $bandBits)"))
  }

  private[graft] def verdictFrame(deltaFeats: DataFrame,
      store: DataFrame): DataFrame = {
    val cands = candidates(deltaFeats, store)
      .withColumn("hamming",
        expr("bit_count(d_hi ^ s_hi) + bit_count(d_lo ^ s_lo)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("media_id"), lit(0).as("pri"), col("hamming"),
        col("base_id"))
    val fresh = deltaFeats.select(col("media_id"), lit(1).as("pri"),
      lit(0L).as("hamming"), lit(null).cast("long").as("base_id"))
    cands.unionByName(fresh)
      .groupBy(col("media_id"))
      .agg(min(struct(col("pri"), col("hamming"), col("base_id"))).as("b"))
  }

  /** Final-state rows → the audit contract. */
  private[graft] def formatVerdicts(best: DataFrame): DataFrame =
    best.select(col("media_id"),
        when(col("b.pri") === 0, lit("dup")).otherwise(lit("new"))
          .as("verdict"),
        col("b.base_id").as("base_id"),
        when(col("b.pri") === 0, col("b.hamming"))
          .otherwise(lit(null).cast("long")).as("hamming"))
      .orderBy(col("media_id"))

  /** The full batch ingest: train-split store vs test-split delta,
    * delta-side collapsed too (the banded join runs once per DISTINCT
    * delta hash; the per-hash verdict re-attaches to every item by
    * one hash equi-join). `deltaFeats` must be pinned (checkpointed)
    * by the caller if its fingerprint pass is expensive — it feeds
    * two plan branches. */
  private[graft] def runVerdicts(spark: SparkSession, bandsT: String,
      deltaFeats: DataFrame): DataFrame = {
    val store = storeFrame(spark, bandsT)
    val best = verdictFrame(collapse(deltaFeats), store)
      .select(col("b"), col("media_id").as("rep_id"))
    val byHash = deltaFeats.as("d")
      .join(collapse(deltaFeats).select(col("dhash"),
        col("media_id").as("rep_id")), "dhash")
      .join(best, "rep_id")
      .select(col("d.media_id").as("media_id"), col("b"))
    formatVerdicts(byHash)
  }
}

/** Q25h — AUDIO DELTA DEDUP against a PERSISTED fingerprint store:
  * [[BandedHashStore]] instantiated over q25g's energy-contour
  * fingerprints, closing the modality dedup matrix's store column
  * for audio (text q57b/s12b, image q25f/s14, audio here). The
  * train-split clips are decoded and fingerprinted ONCE per corpus
  * snapshot; every arriving clip shard fingerprints only ITSELF and
  * joins the bucketed store — per-ingest cost O(delta), zero
  * store-side exchange.
  *
  * Verdict semantics are the image store's, hash-family-swapped:
  * best base = stored clip at minimum Hamming (ties to lowest base
  * id) within the ≤ 6 threshold, `new` otherwise; the banded join is
  * exhaustive for the threshold by pigeonhole, so the ORACLE replays
  * the decision over ALL test×train pairs — the hash gate checks the
  * LSH recall guarantee itself. Zero-sample clips carry no
  * fingerprint and stay out of the audit (q25g's empty-clip rule,
  * mirrored by the oracle's `length(text) > 0` filter). */
object Q25hAudioDedupStore extends GraftQuery {
  import Multimodal._
  import Q25gAudioNearDup.extractFingerprints

  val name = "q25h_audio_dedup_store"
  private[graft] val store =
    new BandedHashStore("graft_audstore", Q25dImageNearDup.MaxHamming)

  /** Fingerprints of one split's wav clips, as the store's
    * (media_id, dhash) contract. */
  private[graft] def featsOf(spark: SparkSession, dir: String,
      split: String): DataFrame =
    extractFingerprints(
        Multimodal.wavRows(mediaTable(spark, dir)
          .filter(Q40TrainTestSplit.splitColOf("media_id") === split)),
        codec = Multimodal.WavCodec).toDF()
      .select(col("media_id"), col("ahash").as("dhash"))

  private[graft] def ensureStore(spark: SparkSession, dir: String): String =
    store.ensureStore(spark, dir)(featsOf(spark, dir, "train"))

  def run(spark: SparkSession, dir: String): DataFrame =
    store.runVerdicts(spark, ensureStore(spark, dir),
      featsOf(spark, dir, "test").localCheckpoint())

  /** ALL-PAIRS relational replay over the shared fingerprint chain —
    * recall guarantee + store correctness + collapse losslessness in
    * one hash gate, like q25f's. */
  val oracle = Some(s"""
    WITH ${Q25gAudioNearDup.duckFpChain()},
    sp AS (
      SELECT media_id,
        CASE WHEN instr('0123456789abcdef',
               substr(md5(CAST(media_id AS VARCHAR)), 32, 1)) - 1 < 13
             THEN 'train' ELSE 'test' END AS split
      FROM m),
    ham AS (
      SELECT dx.media_id, bx.media_id AS base_id,
        CAST(SUM(bit_count(xor(x.b, y.b))) AS BIGINT) AS hamming
      FROM sp dx JOIN sp bx ON dx.split = 'test' AND bx.split = 'train'
      JOIN by_row x ON x.media_id = dx.media_id
      JOIN by_row y ON y.media_id = bx.media_id AND y.bi = x.bi
      GROUP BY dx.media_id, bx.media_id),
    best AS (
      SELECT media_id, base_id, hamming,
        row_number() OVER (PARTITION BY media_id
          ORDER BY hamming, base_id) AS rk
      FROM ham WHERE hamming <= ${Q25dImageNearDup.MaxHamming})
    SELECT t.media_id,
      CASE WHEN b.base_id IS NOT NULL THEN 'dup' ELSE 'new' END AS verdict,
      b.base_id, b.hamming
    FROM (SELECT media_id FROM sp WHERE split = 'test') t
    LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.media_id = t.media_id
    ORDER BY t.media_id
  """.trim)
}

/** Q25j — VIDEO DELTA DEDUP against a PERSISTED fingerprint store:
  * [[BandedHashStore]] instantiated over q25i's temporal-pooled
  * frame fingerprints, closing the modality dedup matrix's STORE
  * column for video (text q57b/s12b, image q25f/s14, audio
  * q25h/s18, video here + s22). The train-split videos are demuxed,
  * decoded and fingerprinted ONCE per corpus snapshot; every
  * arriving video shard fingerprints only ITSELF and joins the
  * bucketed store — per-ingest cost O(delta), zero store-side
  * exchange.
  *
  * Verdict semantics are the image/audio stores', hash-family-
  * swapped: best base = stored video at minimum Hamming (ties to
  * lowest base id) within the ≤ 6 threshold, `new` otherwise; the
  * pair-banded join is exhaustive for the threshold by pigeonhole,
  * so the ORACLE replays the decision over ALL test×train pairs —
  * the hash gate checks the LSH recall guarantee itself. Empty
  * payloads carry no frames and stay out of the audit (q25e's
  * synthesis rule, mirrored by the oracle's `length(text) > 0`
  * filter). */
object Q25jVideoDedupStore extends GraftQuery {
  import Multimodal._
  import Q25iVideoNearDup.extractFingerprints

  val name = "q25j_video_dedup_store"
  private[graft] val store =
    new BandedHashStore("graft_vidstore", Q25dImageNearDup.MaxHamming)

  /** Fingerprints of one split's videos, as the store's
    * (media_id, dhash) contract. */
  private[graft] def featsOf(spark: SparkSession, dir: String,
      split: String): DataFrame =
    extractFingerprints(Q25eVideoScenes.videoFrames(
      mediaTable(spark, dir)
        .filter(Q40TrainTestSplit.splitColOf("media_id") === split)))

  private[graft] def ensureStore(spark: SparkSession, dir: String): String =
    store.ensureStore(spark, dir)(featsOf(spark, dir, "train"))

  def run(spark: SparkSession, dir: String): DataFrame =
    store.runVerdicts(spark, ensureStore(spark, dir),
      featsOf(spark, dir, "test").localCheckpoint())

  /** ALL-PAIRS relational replay over the shared fingerprint chain —
    * recall guarantee + store correctness + collapse losslessness in
    * one hash gate, like q25f's and q25h's. */
  val oracle = Some(s"""
    WITH ${Q25iVideoNearDup.duckFpChain()},
    sp AS (
      SELECT media_id,
        CASE WHEN instr('0123456789abcdef',
               substr(md5(CAST(media_id AS VARCHAR)), 32, 1)) - 1 < 13
             THEN 'train' ELSE 'test' END AS split
      FROM m),
    ham AS (
      SELECT dx.media_id, bx.media_id AS base_id,
        CAST(SUM(bit_count(xor(x.b, y.b))) AS BIGINT) AS hamming
      FROM sp dx JOIN sp bx ON dx.split = 'test' AND bx.split = 'train'
      JOIN by_row x ON x.media_id = dx.media_id
      JOIN by_row y ON y.media_id = bx.media_id AND y.bi = x.bi
      GROUP BY dx.media_id, bx.media_id),
    best AS (
      SELECT media_id, base_id, hamming,
        row_number() OVER (PARTITION BY media_id
          ORDER BY hamming, base_id) AS rk
      FROM ham WHERE hamming <= ${Q25dImageNearDup.MaxHamming})
    SELECT t.media_id,
      CASE WHEN b.base_id IS NOT NULL THEN 'dup' ELSE 'new' END AS verdict,
      b.base_id, b.hamming
    FROM (SELECT media_id FROM sp WHERE split = 'test') t
    LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.media_id = t.media_id
    ORDER BY t.media_id
  """.trim)
}
