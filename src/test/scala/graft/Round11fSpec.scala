package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.multimodal.{Multimodal, Q25dImageNearDup, Q25gAudioNearDup, Q25hAudioDedupStore}

/** Round 11 (continuation): the persisted AUDIO-dedup store (q25h) —
  * the [[graft.multimodal.BandedHashStore]] generalization
  * instantiated over q25g's energy-contour fingerprints. The generic
  * machinery's plan posture (store-side zero exchange, delta-only
  * scans) is pinned by the image twin in Round11dSpec — same code —
  * so these tests pin what is NEW: the audio feature binding, the
  * verdict semantics on crafted clips, and the admit lifecycle. */
class Round11fSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("r11aud").toString
    rows.map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def cleanup(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  /** The q40 split key, replayed in-JVM so the crafted fixture can
    * pick wav ids (≡ 2 mod 3) landing on the split it needs. */
  private def splitOf(id: Long): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    if ("0123456789abcdef".indexOf(md5.last) < 13) "train" else "test"
  }
  private def wavIds(split: String): Iterator[Long] =
    Iterator.iterate(2L)(_ + 3).filter(splitOf(_) == split)

  private def featsOf(rows: Seq[(Long, String)]): DataFrame =
    Q25gAudioNearDup.extractFingerprints(
        Multimodal.wavRows(Multimodal.mediaFrame(
            rows.map { case (id, t) => (id, t, t.length.toLong) }
              .toDF("doc_id", "text", "n_chars"))))
      .toDF().select(col("media_id"), col("ahash").as("dhash"))

  private def ham(a: String, b: String): Int = (0 until 8).map { j =>
    java.lang.Long.bitCount(
      java.lang.Long.parseLong(a.substring(j * 2, j * 2 + 2), 16) ^
        java.lang.Long.parseLong(b.substring(j * 2, j * 2 + 2), 16))
  }.sum

  test("q25h: crafted delta — exact re-encode dups to the LOWEST base, unrelated clip is new") {
    // Structured "waveform" text: energy rises and falls per segment
    // so the contour has many bits set (asserted below — an
    // unstructured clip would hash near all-zeros and alias it).
    val clipA = ("audio material with a rising and falling energy line " +
      "zzZZZZzzzz aaAAAAaaaa ") * 6
    val noise = "x" * clipA.length // flat contour — all deltas 0
    val Seq(t1, t2) = wavIds("train").take(2).toSeq
    val Seq(d1, d2) = wavIds("test").take(2).toSeq
    // Precondition: the crafted contours are genuinely far apart.
    val fp = featsOf(Seq((t1, clipA), (d2, noise))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ham(fp(t1), fp(d2)) > Q25dImageNearDup.MaxHamming,
      s"fixture aliasing: noise clip landed within the threshold of clipA")
    val dir = writeDocs(Seq((t1, clipA), (t2, clipA), (d1, clipA), (d2, noise)))
    graft.plans.Stores.evict(spark, "graft_audstore")
    try {
      val df = Q25hAudioDedupStore.run(spark, dir)
      val got = df.collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq.sortBy(_._1)
      assert(got == Seq((d1, "dup", math.min(t1, t2), 0L), (d2, "new", -1L, -1L))
          .sortBy(_._1),
        s"unexpected verdicts: $got (t1=$t1 t2=$t2 d1=$d1 d2=$d2)")
      // The delta plan reads ONLY the persisted audio store (the
      // delta fingerprints sit behind a checkpoint) — the generic
      // posture, bound to the audio prefix.
      import org.apache.spark.sql.execution.FileSourceScanExec
      val scans = flattenPlan(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.forall(_.tableIdentifier.exists(
          _.table.startsWith("graft_audstore"))),
        s"q25h's delta plan must scan only the audio store, found: " +
          scans.flatMap(_.tableIdentifier).mkString(", "))
      // The streaming twin agrees row for row on the same store, and
      // its growing verdict state engages the RocksDB default.
      import graft.streaming.{S18StreamAudioDedupStore, StreamQueries}
      val s18 = S18StreamAudioDedupStore.run(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq.sortBy(_._1)
      assert(s18 == got, s"s18 diverged from q25h: $s18 vs $got")
      assert(StreamQueries.lastStateMetrics
          .exists(_.toLowerCase.contains("rocksdb")),
        s"s18 must engage RocksDB, got: ${StreamQueries.lastStateMetrics}")
    } finally {
      graft.plans.Stores.evict(spark, "graft_audstore")
      cleanup(dir)
    }
  }

  test("two-wave audio ingest: admitted clips join the store and catch the next wave's dups") {
    val seed = ("the seeded corpus clip with its own energy envelope " +
      "mmMMMMmmmm ooOOOOoooo ") * 6
    val novel = ("a wave one clip unlike anything seeded qqqqQQQQqq " +
      "ttTTttTTtt eeEEEEeeee ") * 6
    val Seq(t1) = wavIds("train").take(1).toSeq
    val Seq(d1) = wavIds("test").take(1).toSeq
    val fp = featsOf(Seq((t1, seed), (d1, novel))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ham(fp(t1), fp(d1)) > Q25dImageNearDup.MaxHamming,
      "fixture aliasing: wave-1 clip landed within the seed's threshold")
    val dir = writeDocs(Seq((t1, seed), (d1, novel)))
    graft.plans.Stores.evict(spark, "graft_audstore")
    try {
      val bandsT = Q25hAudioDedupStore.ensureStore(spark, dir)
      val w1 = Q25hAudioDedupStore.run(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(w1 == Seq((d1, "new")), s"wave 1 must be novel, got $w1")
      // Commit: wave 1's accepted clip joins the store; wave 2's
      // exact re-encode (same material, fresh id) must dup to it.
      Q25hAudioDedupStore.store.admit(featsOf(Seq((d1, novel))), bandsT)
      val w2id = wavIds("test").drop(1).next()
      val w2 = Q25hAudioDedupStore.store.formatVerdicts(
          Q25hAudioDedupStore.store.verdictFrame(
            featsOf(Seq((w2id, novel))),
            Q25hAudioDedupStore.store.storeFrame(spark, bandsT))).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      assert(w2 == Seq((w2id, "dup", d1, 0L)),
        s"wave 2 must dup against the admitted clip, got $w2")
      // Compaction bounds append growth, verdicts unchanged.
      graft.plans.Bucketing.compact(spark, bandsT, "bkey", 16)
      val w2c = Q25hAudioDedupStore.store.formatVerdicts(
          Q25hAudioDedupStore.store.verdictFrame(
            featsOf(Seq((w2id, novel))),
            Q25hAudioDedupStore.store.storeFrame(spark, bandsT))).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      assert(w2c == w2, "compaction must not change verdicts")
    } finally {
      graft.plans.Stores.evict(spark, "graft_audstore")
      cleanup(dir)
    }
  }

  test("candidates: one verify row per colliding pair even when hashes share many bands") {
    import spark.implicits._
    val st = graft.multimodal.Q25hAudioDedupStore.store
    // Base vs deltas: d1 differs in the LAST band only (shares bands
    // 0-6 -> naive banding emits 7 rows), d2 is identical (shares all
    // 8), d3 shares no band at all (never a candidate).
    val base = "00000000000000ff"
    val d1   = "0000000000000011"
    val d2   = base
    val d3   = "1122334455667788"
    val store = st.bandRows(Seq((100L, base)).toDF("media_id", "dhash"))
      .select(col("bkey"), col("media_id").as("base_id"),
        col("dhash").as("base_dhash"))
    val delta = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("media_id", "dhash")
    val got = st.candidates(delta, store)
      .select(col("media_id"), col("base_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq((1L, 100L), (2L, 100L)),
      s"exactly one candidate row per colliding pair, got $got")
  }

  test("band-pair recall property: every pair within the contract threshold shares a bucket") {
    import spark.implicits._
    // Deterministic pseudo-random 64-bit hashes + <= 6 random bit
    // flips: the pigeonhole argument (<= nBands-2 differing bits
    // leave >= 2 clean bands => one shared band-pair bucket) checked
    // over 200 adversarial cases, including flips clustered into few
    // bands and spread across many.
    val st = graft.multimodal.Q25hAudioDedupStore.store
    val cases = (0 until 200).map { t =>
      var h = SplitMix.mix(t * 31 + 7)
      val flips = t % 7 // 0..6 differing bits
      var h2 = h
      (0 until flips).foreach { f =>
        val bit = ((SplitMix.mix(t * 131 + f) % 64) + 64) % 64
        h2 ^= 1L << bit.toInt
      }
      (t.toLong * 2, f"$h%016x", t.toLong * 2 + 1, f"$h2%016x")
    }
    val store = st.bandRows(
        cases.map(c => (c._1, c._2)).toDF("media_id", "dhash"))
      .select(col("bkey"), col("media_id").as("base_id"),
        col("dhash").as("base_dhash"))
    val delta = cases.map(c => (c._3, c._4)).toDF("media_id", "dhash")
    val found = st.candidates(delta, store)
      .select(col("media_id"), col("base_id")).collect()
      .map(r => (r.getLong(1), r.getLong(0))).toSet
    cases.foreach { case (bid, h, did, h2) =>
      // NOTE: flips can cancel (same bit twice), so recompute the
      // true Hamming; the guarantee applies at <= 6.
      val ham = java.lang.Long.bitCount(
        java.lang.Long.parseUnsignedLong(h, 16) ^
          java.lang.Long.parseUnsignedLong(h2, 16))
      if (ham <= 6)
        assert(found.contains((bid, did)),
          s"pair at Hamming $ham missed by the band-pair buckets: $h vs $h2")
    }
  }

  test("s19: streamed ANN ingest routes deltas to their true nearest centroid and a query then finds them") {
    import org.apache.spark.sql.functions.{broadcast => _, _}
    import graft.queries.{Q19dAnnIvf, Q19eAnnIvfStore, Q40TrainTestSplit}
    import graft.streaming.S19StreamAnnIngest
    graft.plans.Stores.evict(spark, "graft_s19index")
    val tmp = java.nio.file.Files.createTempDirectory("s19spec").toString
    try {
      // Stream ≡ one-shot batch ingest: run s19 (multi-epoch ingest
      // into a run-scoped copy), then recompute the assignment in one
      // batch call — identical rows.
      val streamed = S19StreamAnnIngest.run(spark, sf01).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      val (centT, _) = Q19eAnnIvfStore.ensureTrainStore(spark, sf01)
      val oneShot = Q19eAnnIvfStore.assign(spark, centT,
          Tables.embeddings(spark, sf01)
            .filter(Q40TrainTestSplit.splitColOf("vec_id") === "test"))
        .select(col("vec_id"), col("list_id").cast("int").as("list_id"))
        .orderBy(col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(streamed.nonEmpty && streamed == oneShot,
        s"streamed ingest diverged from the one-shot assignment")
      // Every routed list is the DRIVER-recomputed nearest centroid
      // (exact doubles both sides, lowest-list tie-break).
      val cents = spark.table(centT).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      val vecs = Tables.embeddings(spark, sf01)
        .filter(Q40TrainTestSplit.splitColOf("vec_id") === "test")
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      streamed.foreach { case (vid, lid) =>
        val v = vecs(vid)
        val best = cents.toSeq.map { case (c, arr) =>
          (arr.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, c)
        }.min
        assert(lid == best._2,
          s"vec $vid routed to $lid, nearest stored centroid is $best")
      }
      // Post-ingest serve: rebuild the working table the way s19 does,
      // ingest one batch, and the FULL-probe query (exact scan) must
      // surface the ingested duplicate of the query vector at cos 1.0.
      val runT = "graft_s19spec_lists"
      graft.plans.Stores.dropManaged(spark, runT)
      val (_, listsT) = Q19eAnnIvfStore.ensureTrainStore(spark, sf01)
      spark.table(listsT).write.format("parquet")
        .partitionBy("list_id").saveAsTable(runT)
      try {
        val qVec = Tables.embeddings(spark, sf01)
          .filter(col("vec_id") === 0).select(col("embedding"))
          .head().getSeq[Float](0)
        import spark.implicits._
        val clone = Seq((900001L, qVec, 0)).toDF("vec_id", "embedding", "label")
        Q19eAnnIvfStore.appendToLists(spark, runT,
          Q19eAnnIvfStore.assign(spark, centT, clone))
        val hits = Q19eAnnIvfStore.query(spark, sf01, centT, runT,
            Q19dAnnIvf.K) // full probe: recall 1.0 by construction
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(hits.get(900001L).contains(1.0),
          s"ingested clone of the query vector must surface at cos 1.0: $hits")
      } finally spark.sql(s"DROP TABLE IF EXISTS $runT")
    } finally {
      graft.plans.Stores.evict(spark, "graft_s19index")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
