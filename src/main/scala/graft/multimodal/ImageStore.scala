package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{GraftQuery, Q40TrainTestSplit}

/** Q25f — IMAGE DELTA DEDUP against a PERSISTED dHash store: the
  * q57b/s12b store lifecycle applied to the image modality, as a
  * [[BandedHashStore]] instantiation (the machinery was factored
  * there when the audio tier q25h landed — one implementation, N
  * hash families). The corpus-side (train-split) images are
  * fingerprinted ONCE — decoded through the real PNG codec path,
  * reduced to 64-bit dHashes, banded at the width
  * [[Q25dImageNearDup.bandBitsFor]] picks for the near-dup
  * threshold, and written bucketed by band key — and every arriving
  * image shard (the test split standing in for "the incoming crawl")
  * only hashes ITSELF and joins the store: per-ingest cost is
  * O(delta) + a join whose store side reads pre-partitioned buckets
  * with no exchange.
  *
  * Verdict semantics (image-native — ONE perceptual tier, unlike
  * q57's exact/near text pair, because Hamming 0 IS the exact case):
  * each delta image's best base is the stored image at minimum
  * Hamming distance (ties to the lowest base id) within
  * [[Q25dImageNearDup.MaxHamming]]; anything without such a base is
  * `new` and kept in the audit. The banded join is exhaustive for
  * this threshold by pigeonhole (Hamming ≤ 6 over 8 bands leaves ≥ 2
  * clean bands — the band-PAIR buckets of [[BandedHashStore]]), so
  * the ORACLE replays the decision over ALL test×train pairs — the
  * hash gate checks the LSH recall guarantee itself, not just the
  * arithmetic.
  *
  * 100 TB posture: the store holds C(8,2)=28 short rows per DISTINCT
  * image hash (never pixels); the delta pays one batched decode of
  * its own files and a band-pair equi-join against bucketed parquet;
  * the stateful side of the verdict is one struct row per delta
  * image. Cites the reference's dedup contract only in spirit — no
  * such operator exists in /root/reference (409-line word-count
  * engine). */
object Q25fImageDedupStore extends GraftQuery {
  import Q25cImageFeatures.extractImageFeatures
  import Q25dImageNearDup.MaxHamming

  val name = "q25f_image_dedup_store"
  private[graft] val store = new BandedHashStore("graft_imgstore", MaxHamming)

  /** One split's image fingerprints (real PNG codec pass), as the
    * store's (media_id, dhash) feature frame. Exact re-uploads are
    * collapsed by the store ([[BandedHashStore.collapse]]) before any
    * band join — the structural answer to a real corpus shape
    * (HISTORY.md round 11: 167k images with 13k distinct hashes drove
    * bucket occupancy to 8k rows and the banded join to 111 s;
    * collapsed, the join is distinct-hash sized). */
  private[graft] def featsOf(spark: SparkSession, dir: String,
      split: String): DataFrame =
    extractImageFeatures(Q25cImageFeatures.imageFrames(
        Multimodal.mediaTable(spark, dir)
          .filter(Q40TrainTestSplit.splitColOf("media_id") === split)))
      .toDF().select(col("media_id"), col("dhash"))

  /** Build (or bind/serve) the fingerprinted band store for this
    * corpus snapshot; returns the bands table name. */
  private[graft] def ensureStore(spark: SparkSession, dir: String): String =
    store.ensureStore(spark, dir)(featsOf(spark, dir, "train"))

  /** The test split's own images, checkpointed narrow (id + 16 hex
    * chars): the feature frame feeds two plan branches (hash reps +
    * the verdict re-attach), each of which would otherwise re-run the
    * PNG encode/decode pass. */
  def run(spark: SparkSession, dir: String): DataFrame =
    store.runVerdicts(spark, ensureStore(spark, dir),
      featsOf(spark, dir, "test").localCheckpoint())

  /** ALL-PAIRS relational replay (stronger than the banded plan: the
    * operator must agree with the exhaustive decision, proving its
    * LSH recall guarantee at this threshold). Reuses q25c's
    * text-replay hash bytes. */
  val oracle = Some(s"""
    WITH ${Q25cImageFeatures.duckChain},
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
      JOIN by_row y ON y.media_id = bx.media_id AND y.gy = x.gy
      GROUP BY dx.media_id, bx.media_id),
    best AS (
      SELECT media_id, base_id, hamming,
        row_number() OVER (PARTITION BY media_id
          ORDER BY hamming, base_id) AS rk
      FROM ham WHERE hamming <= $MaxHamming)
    SELECT t.media_id,
      CASE WHEN b.base_id IS NOT NULL THEN 'dup' ELSE 'new' END AS verdict,
      b.base_id, b.hamming
    FROM (SELECT media_id FROM sp WHERE split = 'test') t
    LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.media_id = t.media_id
    ORDER BY t.media_id
  """.trim)
}
