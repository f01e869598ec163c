package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Q58 — the assembly tail, end to end: everything the FULL cleaning
  * audit keeps (q42b's gates — dedup victims, DF-capped eval leakage,
  * length, repetition, cross-doc boilerplate, quality) flows through
  * context-window chunking (q56's W=32/S=24 tiling) and is packed
  * into fixed-token-budget training shards per language (q45's
  * exclusive-running-sum rule). This is the demonstration that the
  * engine's curation, scoring, and assembly operators COMPOSE into
  * one declarative program: the output is the shard manifest a
  * pretraining run would consume.
  *
  * Scale shape inherits the pieces' postures: every expensive signal
  * reads the corpus once and joins on doc_id (q42b), chunking is a
  * per-row explode, and the pack is windowed PER LANG (parallel
  * across the mix; never a global sort). All shard arithmetic is
  * integer (exclusive cum − token count, `div` budget), so the shard
  * boundaries are engine-exact.
  */
object Q58TrainingShards extends GraftQuery {
  val name = "q58_training_shards"
  // the tiling IS q56's — one definition (Scoring.scala), zero drift
  private def W = Q56ChunkWindows.W
  private def S = Q56ChunkWindows.S
  /** Tokens per shard. Tiny to exercise multi-shard packing at
    * fixture scale; a real run sets sequence-count × context. */
  private val Budget = 1024

  def run(spark: SparkSession, dir: String): DataFrame = {
    val kept = Q42CorpusClean.statusByDoc(spark, dir, withContamination = true)
      .filter(col("status") === "kept")
      .select(col("doc_id"), col("lang"))
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), expr(NorthStar.toksExpr).as("t"))
      .filter(size(col("t")) >= 1)
      .join(kept, Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(expr(
          // ct arithmetically: k·S < size(t) for every generated k, so
          // the count is least(W, size(t) − k·S) — no W-element array
          // materialized per chunk just to take its size
          s"transform(${Q56ChunkWindows.chunkIdsExpr}, " +
            s"k -> named_struct('cid', cast(k as int), " +
            s"'ct', cast(least($W, size(t) - k * $S) as bigint)))")).as("c"))
      .select(col("doc_id"), col("lang"),
        col("c.cid").as("chunk_id"), col("c.ct").as("ct"))
    cumByLang(chunks)
      .withColumn("shard_id", expr(s"cast((cum - ct) div $Budget as int)"))
      .groupBy(col("lang"), col("shard_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("ct")).cast("long").as("n_tokens"))
      .orderBy(col("lang"), col("shard_id"))
  }

  /** Exact per-lang running token total, decomposed (r19, guide §2.5):
    * the one-window form `partitionBy(lang) orderBy(doc_id, chunk_id)`
    * funnels EVERY chunk row of a language — q58b's text payload
    * included — through ONE task at any scale (a handful of langs =
    * a handful of reducers over the whole corpus). Same integer
    * prefix sum in two levels: per-doc subtotals, a doc-level
    * per-lang window (rows = docs, narrow columns only), then a
    * per-doc chunk window — parallel across doc_ids and exchange-free
    * here, because chunk rows are already hash-partitioned by doc_id
    * (corpus spread + kept join). The doc-offset frame joins back on
    * doc_id (docs have one lang, so doc_id alone keys it); its size
    * is one narrow row per kept doc, so the planner/AQE picks a
    * broadcast at fixture scale and an SMJ beyond the broadcast cap —
    * deliberately NOT hinted. cum = off(doc) + intra-doc running ct,
    * equal term-for-term to the one-window sum since (doc_id,
    * chunk_id) orders all chunks of earlier docs strictly first. */
  private[queries] def cumByLang(chunks: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = chunks.groupBy(col("lang"), col("doc_id"))
      .agg(sum(col("ct")).as("dt"))
      .select(col("doc_id"), (sum(col("dt")).over(wDoc) - col("dt")).as("off"))
    val wChunk = Window.partitionBy(col("doc_id")).orderBy(col("chunk_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks.join(off, Seq("doc_id"))
      .withColumn("cum", col("off") + sum(col("ct")).over(wChunk))
      .drop("off")
  }

  val oracle = Some(s"""
    ${Q42CorpusClean.duckTaggedCtes(withContamination = true)},
    kept8 AS (SELECT doc_id, lang FROM tagged WHERE status = 'kept'),
    cd8 AS (SELECT k.doc_id, k.lang, t.t, CAST(len(t.t) AS INT) AS n
           FROM kept8 k JOIN toks t ON k.doc_id = t.doc_id
           WHERE len(t.t) >= 1),
    ck8 AS (SELECT doc_id, lang, t, n,
           CAST(unnest(range(0, (greatest(n - $W, 0) + ${S - 1}) // $S + 1)) AS INT) AS chunk_id
           FROM cd8),
    cc8 AS (SELECT doc_id, lang, chunk_id,
           CAST(len(t[chunk_id * $S + 1 : least(chunk_id * $S + $W, n)]) AS BIGINT) AS ct
           FROM ck8),
    cum8 AS (SELECT lang, doc_id, chunk_id, ct,
            SUM(ct) OVER (PARTITION BY lang ORDER BY doc_id, chunk_id
              ROWS UNBOUNDED PRECEDING) AS cum
            FROM cc8),
    sh8 AS (SELECT lang, CAST((cum - ct) // $Budget AS INT) AS shard_id, ct FROM cum8)
    SELECT lang, shard_id, count(*) AS n_chunks,
      CAST(sum(ct) AS BIGINT) AS n_tokens
    FROM sh8 GROUP BY lang, shard_id ORDER BY lang, shard_id
  """.trim)
}

/** Q58b — SHARD EXPORT: the assembly tail's missing last step
  * (VERDICT r18 #6). q58 ends at shard ASSIGNMENTS — rows mapping
  * (lang, chunk) → shard — but a real trainer consumes shard FILES.
  * This entry writes them and returns the artifact's MANIFEST:
  *
  *  - one text file per (lang, shard_id) — the repartition on the
  *    shard key puts each shard wholly in one task, so the dynamic-
  *    partition write emits exactly one part file per shard
  *    directory; files are size-capped by construction (q58's
  *    fixed token Budget per shard);
  *  - the write goes through Spark's staged file-commit protocol
  *    (task-attempt staging, driver-side publish on job commit — the
  *    letters-sink atomicity discipline): a failed or speculated
  *    attempt can never surface a partial shard;
  *  - rows arrive at the writer already sorted (lang, shard_id,
  *    doc_id, chunk_id) — the writer's required partition-column
  *    prefix is satisfied, so no extra sort is planned and the file
  *    BYTES are a pure function of the corpus (Round19Spec pins
  *    byte-stability across re-runs, GoldenSpec-style);
  *  - the MANIFEST (lang, shard_id, path, n_docs, n_chunks,
  *    n_tokens, checksum) is the returned frame, and `checksum` is
  *    the md5 of the shard file's exact bytes (ordered lines, one
  *    trailing newline each) — the DuckDB oracle replays it from
  *    `documents` alone, so the ARTIFACT itself is hash-gated, not
  *    just the assignment arithmetic.
  *
  * Scale shape: q58's (all signals join on doc_id, per-lang windowed
  * pack), plus one hash exchange on (lang, shard_id) for the write;
  * the checksum aggregation is per-shard state bounded by Budget
  * tokens — never corpus-wide. */
object Q58bShardExport extends GraftQuery {
  val name = "q58b_shard_export"
  private def W = Q56ChunkWindows.W
  private def S = Q56ChunkWindows.S
  private val Budget = 1024 // q58's — one packing rule

  /** One row per exported LINE: (lang, shard_id, doc_id, chunk_id,
    * ct, line) under exactly q58's assignment rule, with the chunk's
    * own text carried (`doc:chunk:tokens`). */
  private def linesFrame(spark: SparkSession, dir: String): DataFrame = {
    val kept = Q42CorpusClean.statusByDoc(spark, dir, withContamination = true)
      .filter(col("status") === "kept")
      .select(col("doc_id"), col("lang"))
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), expr(NorthStar.toksExpr).as("t"))
      .filter(size(col("t")) >= 1)
      .join(kept, Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(expr(
          s"transform(${Q56ChunkWindows.chunkIdsExpr}, " +
            s"k -> named_struct('cid', cast(k as int), " +
            s"'ct', cast(least($W, size(t) - k * $S) as bigint), " +
            s"'txt', array_join(slice(t, k * $S + 1, $W), ' ')))")).as("c"))
      .select(col("doc_id"), col("lang"),
        col("c.cid").as("chunk_id"), col("c.ct").as("ct"),
        col("c.txt").as("txt"))
    Q58TrainingShards.cumByLang(chunks)
      // Explicit repartition directly under the caller's checkpoint
      // boundary (r20): the window/join chain above is byte-LIGHT (AQE
      // coalesces its exchanges toward one task at fixture scale)
      // while the `line` concat below is where the bytes and the CPU
      // appear — without this the whole line build and the checkpoint
      // materialized as ONE partition (~3 s serial, q58b's largest
      // non-write stage) that every downstream pass (shard write,
      // manifest) then re-read serially. User-specified count: AQE
      // preserves it; placed ABOVE the window so no optimizer rule can
      // fold it into the window's own coalescible exchange.
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("shard_id", expr(s"cast((cum - ct) div $Budget as int)"))
      .select(col("lang"), col("shard_id"), col("doc_id"), col("chunk_id"),
        col("ct"),
        concat(col("doc_id").cast("string"), lit(":"),
          col("chunk_id").cast("string"), lit(":"), col("txt")).as("line"))
  }

  /** The manifest over a lines frame — checksum is the md5 of the
    * shard file's exact bytes: lines in (doc_id, chunk_id) order,
    * each newline-terminated (the text writer's framing). The sort
    * happens INSIDE the aggregate (array_sort over per-shard state),
    * so the checksum is collect-order-independent. */
  private def manifestOf(lines: DataFrame): DataFrame =
    // Explicit keyed repartition BEFORE the groupBy (r20): the
    // checksum aggregate concatenates + md5's every exported byte, so
    // its reduce stage is CPU-dense but byte-light per group — AQE's
    // byte-targeted coalescing collapsed it to ONE task (~2.7 s serial
    // at sf0.1, the row's largest stage). The explicit count is
    // user-specified, so AQE keeps the parallelism. Byte-NEUTRAL at
    // scale: collect_list ships every line across the shuffle
    // regardless (partial aggregation cannot reduce a concatenation),
    // so this moves the same bytes through the same single exchange —
    // it only pins the reducer count.
    lines.repartition(
        lines.sparkSession.sparkContext.defaultParallelism,
        col("lang"), col("shard_id"))
      .groupBy(col("lang"), col("shard_id"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("ct")).cast("long").as("n_tokens"),
        expr("md5(concat(array_join(transform(" +
          "array_sort(collect_list(struct(doc_id, chunk_id, line))), " +
          "x -> x.line), chr(10)), chr(10)))").as("checksum"))
      .select(col("lang"), col("shard_id"),
        concat(lit("lang="), col("lang"), lit("/shard_id="),
          col("shard_id").cast("string")).as("path"),
        col("n_docs"), col("n_chunks"), col("n_tokens"), col("checksum"))

  /** Write the shard files under `outDir` and return the manifest.
    * The lines frame is checkpointed once — it feeds both the write
    * and the manifest aggregation, and its head (the full cleaning
    * audit) is the expensive part. */
  private[graft] def exportShards(spark: SparkSession, dir: String,
      outDir: String): DataFrame = {
    val lines = linesFrame(spark, dir).localCheckpoint(true)
    lines.repartition(col("lang"), col("shard_id"))
      .sortWithinPartitions(col("lang"), col("shard_id"), col("doc_id"),
        col("chunk_id"))
      .select(col("line").as("value"), col("lang"), col("shard_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("lang", "shard_id").text(outDir)
    manifestOf(lines)
  }

  /** The export directory this corpus snapshot's run() writes —
    * fingerprint-keyed (interleaved corpora export distinct dirs);
    * exposed for the byte-stability spec. */
  private[graft] def exportDir(spark: SparkSession, dir: String): String =
    graft.plans.Stores.snapPath(spark, "graft_q58b_export", dir)

  def run(spark: SparkSession, dir: String): DataFrame =
    exportShards(spark, dir, exportDir(spark, dir))
      .orderBy(col("lang"), col("shard_id"))

  val oracle = Some(s"""
    ${Q42CorpusClean.duckTaggedCtes(withContamination = true)},
    kept8 AS (SELECT doc_id, lang FROM tagged WHERE status = 'kept'),
    cd8 AS (SELECT k.doc_id, k.lang, t.t, CAST(len(t.t) AS INT) AS n
           FROM kept8 k JOIN toks t ON k.doc_id = t.doc_id
           WHERE len(t.t) >= 1),
    ck8 AS (SELECT doc_id, lang, t, n,
           CAST(unnest(range(0, (greatest(n - $W, 0) + ${S - 1}) // $S + 1)) AS INT) AS chunk_id
           FROM cd8),
    cc8 AS (SELECT doc_id, lang, chunk_id,
           CAST(len(t[chunk_id * $S + 1 : least(chunk_id * $S + $W, n)]) AS BIGINT) AS ct,
           array_to_string(t[chunk_id * $S + 1 : least(chunk_id * $S + $W, n)], ' ') AS txt
           FROM ck8),
    cum8 AS (SELECT lang, doc_id, chunk_id, ct, txt,
            SUM(ct) OVER (PARTITION BY lang ORDER BY doc_id, chunk_id
              ROWS UNBOUNDED PRECEDING) AS cum
            FROM cc8),
    sh8 AS (SELECT lang, CAST((cum - ct) // $Budget AS INT) AS shard_id,
            doc_id, chunk_id, ct,
            CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_id AS VARCHAR)
              || ':' || txt AS line
            FROM cum8)
    SELECT lang, shard_id,
      'lang=' || lang || '/shard_id=' || CAST(shard_id AS VARCHAR) AS path,
      COUNT(DISTINCT doc_id) AS n_docs,
      COUNT(*) AS n_chunks,
      CAST(SUM(ct) AS BIGINT) AS n_tokens,
      md5(string_agg(line, chr(10) ORDER BY doc_id, chunk_id) || chr(10))
        AS checksum
    FROM sh8 GROUP BY lang, shard_id ORDER BY lang, shard_id
  """.trim)
}

/** Q71 — MULTIMODAL curation: the cross-modality admission decision
  * in ONE declarative plan — the q58 composition idea applied across
  * modalities instead of along the text assembly tail. Every document
  * gets one verdict row with the per-gate evidence:
  *
  *  - `text_ok`   — s11's ingest admission gates (PII-free, ≥ q42's
  *                  token floor), the SAME pattern constants;
  *  - `text_dup`  — q18's exact rule: not the min doc_id of its
  *                  md5(lower(text)) group;
  *  - `image_dup` — for the png tier: a LOWER-id image sits within
  *                  Hamming [[graft.multimodal.Q25dImageNearDup
  *                  .MaxHamming]] — q25d's banded candidates + exact
  *                  verify at the policy-picked band width
  *                  (`nearDupPairs`), the q25f decision without the
  *                  store (the composed audit reads one corpus);
  *  - `sem_dup`   — q70's semantic drop (vec_id is the doc's
  *                  embedding id by fixture construction);
  *  - `audio_dup` — for the wav tier: a LOWER-id clip within the
  *                  same Hamming threshold over q25g's energy-contour
  *                  fingerprints — the identical `nearDupPairs`
  *                  decision, hash family swapped (round-11 cont.,
  *                  when q25h closed the audio store column);
  *  - `keep`      — text_ok ∧ ¬text_dup ∧ ¬image_dup ∧ ¬sem_dup
  *                  ∧ ¬audio_dup.
  *
  * Every gate is the FACTORED production operator (zero drift: the
  * image gate is `nearDupPairs`, the semantic gate is q70's own run,
  * the text gates share s11/q42's constants), and every gate is
  * replayed relationally by the oracle — the whole multimodal
  * decision is hash-checked end to end, codec path included.
  *
  * Scale shape (the q42b rule): each expensive signal reads the
  * corpus once and joins back on doc_id — the text gates are map-only
  * over the documents scan, the dup gates are the already-audited
  * banded/blocked joins, and the final assembly is doc_id-keyed
  * hash joins with the two sparse dup sets left-joined. No signal
  * ever re-reads another's input. */
object Q71MultimodalCuration extends GraftQuery {
  import graft.multimodal.{Q25cImageFeatures, Q25dImageNearDup}
  val name = "q71_multimodal_curation"

  def run(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val textOk = docs.select(col("doc_id"),
      ((size(regexp_extract_all(col("text"), lit(Curation.EmailPat), lit(0))) +
        size(regexp_extract_all(col("text"), lit(Curation.PhonePat), lit(0))) +
        size(regexp_extract_all(col("text"), lit(Curation.Ipv4Pat), lit(0)))) === 0 &&
        size(expr(NorthStar.toksExpr)) >= Q42CorpusClean.MinTokens).as("text_ok"))
    val thash = docs.select(col("doc_id"), md5(lower(col("text"))).as("th"))
    val textDup = thash
      .join(thash.groupBy(col("th")).agg(min(col("doc_id")).as("keeper")), "th")
      .select(col("doc_id"), (col("doc_id") =!= col("keeper")).as("text_dup"))
    val imgDup = Q25dImageNearDup.nearDupPairs(
        Q25cImageFeatures.extractImageFeatures(
            Q25cImageFeatures.imageTable(spark, dir)).toDF()
          .select(col("media_id"), col("dhash")))
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("image_dup", lit(true))
    val semDup = Q70SemanticDedup.semanticDedup(Tables.embeddings(spark, dir))
      .filter(col("verdict") === "drop")
      .select(col("vec_id").as("doc_id"), lit(true).as("sem_dup"))
    val audDup =
      Q25dImageNearDup.nearDupPairs(
          graft.multimodal.Q25gAudioNearDup.extractFingerprints(
              graft.multimodal.Multimodal.wavRows(
                graft.multimodal.Multimodal.mediaTable(spark, dir)),
              codec = graft.multimodal.Multimodal.WavCodec).toDF()
            .select(col("media_id"), col("ahash").as("dhash")))
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("audio_dup", lit(true))
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(textOk, "doc_id")
      .join(textDup, "doc_id")
      .join(imgDup, Seq("doc_id"), "left")
      .join(semDup, Seq("doc_id"), "left")
      .join(audDup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        col("text_ok"), col("text_dup"),
        coalesce(col("image_dup"), lit(false)).as("image_dup"),
        coalesce(col("sem_dup"), lit(false)).as("sem_dup"),
        coalesce(col("audio_dup"), lit(false)).as("audio_dup"))
      .withColumn("keep", col("text_ok") && !col("text_dup") &&
        !col("image_dup") && !col("sem_dup") && !col("audio_dup"))
      .orderBy(col("doc_id"))
  }

  val oracle = Some(s"""
    WITH gate AS (
      SELECT doc_id,
        (CAST(length(regexp_extract_all(text, '${Curation.EmailPat}'))
            + length(regexp_extract_all(text, '${Curation.PhonePat}'))
            + length(regexp_extract_all(text, '${Curation.Ipv4Pat}')) AS BIGINT) = 0
         AND CAST(len(${NorthStar.duckToks}) AS BIGINT) >= ${Q42CorpusClean.MinTokens})
          AS text_ok
      FROM documents),
    thash AS (SELECT doc_id, md5(lower(text)) AS th FROM documents),
    tdup AS (
      SELECT t.doc_id, t.doc_id <> k.keeper AS text_dup
      FROM thash t JOIN (SELECT th, min(doc_id) AS keeper
                         FROM thash GROUP BY th) k ON k.th = t.th),
    ${Q25cImageFeatures.duckChain},
    ibands AS (SELECT media_id, gy AS bi, b FROM by_row),
    icand AS (
      SELECT DISTINCT a.media_id AS id_a, b2.media_id AS id_b
      FROM ibands a JOIN ibands b2 ON a.bi = b2.bi AND a.b = b2.b
      WHERE a.media_id < b2.media_id),
    iham AS (
      SELECT c.id_a, c.id_b,
        CAST(SUM(bit_count(xor(x.b, y.b))) AS BIGINT) AS hamming
      FROM icand c
      JOIN by_row x ON x.media_id = c.id_a
      JOIN by_row y ON y.media_id = c.id_b AND y.gy = x.gy
      GROUP BY c.id_a, c.id_b),
    idup AS (SELECT DISTINCT id_b AS doc_id FROM iham
             WHERE hamming <= ${Q25dImageNearDup.MaxHamming}),
    ${Q70SemanticDedup.duckChain},
    sdup AS (SELECT vb AS doc_id FROM doms),
    ${graft.multimodal.Q25gAudioNearDup.duckFpChain("a")},
    acand AS (
      SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b
      FROM aby_row x JOIN aby_row y ON x.bi = y.bi AND x.b = y.b
      WHERE x.media_id < y.media_id),
    aham AS (
      SELECT c.id_a, c.id_b,
        CAST(SUM(bit_count(xor(x.b, y.b))) AS BIGINT) AS hamming
      FROM acand c
      JOIN aby_row x ON x.media_id = c.id_a
      JOIN aby_row y ON y.media_id = c.id_b AND y.bi = x.bi
      GROUP BY c.id_a, c.id_b),
    adup AS (SELECT DISTINCT id_b AS doc_id FROM aham
             WHERE hamming <= ${Q25dImageNearDup.MaxHamming})
    SELECT d.doc_id, d.lang, d.source, g.text_ok, t.text_dup,
      (i.doc_id IS NOT NULL) AS image_dup,
      (s.doc_id IS NOT NULL) AS sem_dup,
      (au.doc_id IS NOT NULL) AS audio_dup,
      (g.text_ok AND NOT t.text_dup AND i.doc_id IS NULL AND s.doc_id IS NULL
        AND au.doc_id IS NULL) AS keep
    FROM documents d
    JOIN gate g ON g.doc_id = d.doc_id
    JOIN tdup t ON t.doc_id = d.doc_id
    LEFT JOIN idup i ON i.doc_id = d.doc_id
    LEFT JOIN sdup s ON s.doc_id = d.doc_id
    LEFT JOIN adup au ON au.doc_id = d.doc_id
    ORDER BY d.doc_id
  """.trim)
}
