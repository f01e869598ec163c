package graft

import org.apache.spark.sql.functions._
import graft.multimodal.{Q25cImageFeatures, Q25dImageNearDup, Q25fImageDedupStore}
import graft.streaming.{S14StreamImageDedupStore, StreamQueries}

/** Round 11 (continuation): the persisted image-dedup store lifecycle
  * (q25f batch + s14 streaming), the band-width policy, and store
  * marker GC. */
class Round11dSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("r11img").toString
    rows.map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def cleanup(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  test("band-width policy: widest hex-aligned width whose pigeonhole guarantee covers the threshold") {
    // 64/b bands must exceed the allowed Hamming distance.
    assert(Q25dImageNearDup.bandBitsFor(0) == 64) // exact hash equality
    assert(Q25dImageNearDup.bandBitsFor(1) == 32)
    assert(Q25dImageNearDup.bandBitsFor(3) == 16)
    assert(Q25dImageNearDup.bandBitsFor(4) == 8)
    assert(Q25dImageNearDup.bandBitsFor(6) == 8) // q25d's operating point
    assert(Q25dImageNearDup.bandBitsFor(7) == 8)
    assert(Q25dImageNearDup.bandBitsFor(8) == 4)
    assert(Q25dImageNearDup.bandBitsFor(15) == 4)
    intercept[IllegalArgumentException](Q25dImageNearDup.bandBitsFor(16))
    intercept[IllegalArgumentException](Q25dImageNearDup.bandBitsFor(-1))
  }

  test("q25f: crafted delta — near-dup resolves to the LOWEST matching base, unrelated image is new") {
    // Train png tier: ids 3 and 6 (both hold the same content — the
    // tie the best-base rule must break toward the lower id); test
    // png tier: id 24 (an off-grid single-pixel edit of the train
    // content → dHash-identical → dup at Hamming 0) and id 30 (the
    // reversed text → unrelated).
    import Q25cImageFeatures.{GridW, GridH}
    val base = ("content dedup finds perceptually identical images even when " +
      "bytes differ slightly in places the fingerprint does not sample ") * 2
    val textA = base.trim
    val len = textA.length
    val (w, h) = (16 + len % 64, 16 + len % 48)
    val sampled = (for (gy <- 0 until GridH; gx <- 0 until GridW)
      yield ((gy * h / GridH) * w + gx * w / GridW) % len).toSet
    val off = (0 until len).find(i => !sampled.contains(i) && textA(i) != 'x').get
    val textB = textA.updated(off, 'x')
    val dir = writeDocs(Seq((3L, textA), (6L, textA), (24L, textB),
      (30L, textA.reverse)))
    try {
      graft.plans.Stores.evict(spark, "graft_imgstore")
      val got = Q25fImageDedupStore.run(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
      assert(got == Seq((24L, "dup", 3L, 0L), (30L, "new", -1L, -1L)),
        s"unexpected verdicts: $got")
      // And the streaming twin agrees row for row on the same store.
      val s14 = S14StreamImageDedupStore.run(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
      assert(s14 == got, s"s14 diverged from q25f: $s14 vs $got")
      // State grows with the ingest → the RocksDB default applies.
      assert(StreamQueries.lastStateMetrics
          .exists(_.toLowerCase.contains("rocksdb")),
        s"s14 must engage RocksDB, got: ${StreamQueries.lastStateMetrics}")
    } finally {
      graft.plans.Stores.evict(spark, "graft_imgstore")
      cleanup(dir)
    }
  }

  test("q25f: incremental plan reads only the image store — no corpus-side rehash, no store-side shuffle") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      graft.plans.Stores.evict(spark, "graft_imgstore")
      try {
        val df = Q25fImageDedupStore.run(spark, sf)
        df.collect()
        val nodes = flattenPlan(df.queryExecution.executedPlan)
        val scans = nodes.collect { case f: FileSourceScanExec => f }
        assert(scans.nonEmpty, "expected parquet scans of the store table")
        assert(scans.forall(_.tableIdentifier.exists(
            _.table.startsWith("graft_imgstore"))),
          "q25f's delta plan must scan ONLY the persisted store (the " +
            "delta features sit behind a checkpoint), found:\n" +
            scans.map(_.tableIdentifier).mkString("\n"))
        val bandJoins = nodes.filter {
          case j: SortMergeJoinExec     => j.leftKeys.exists(_.toString.contains("bkey"))
          case j: ShuffledHashJoinExec  => j.leftKeys.exists(_.toString.contains("bkey"))
          case j: BroadcastHashJoinExec => j.leftKeys.exists(_.toString.contains("bkey"))
          case _ => false
        }
        assert(bandJoins.nonEmpty, "expected the band-key store join")
        val storeSides = bandJoins.flatMap(_.children.filter(c =>
          flattenPlan(c).exists {
            case f: FileSourceScanExec =>
              f.tableIdentifier.exists(_.table.startsWith("graft_imgstore_bands"))
            case _ => false
          }))
        assert(storeSides.nonEmpty, "band join must have the store scan on one side")
        storeSides.foreach { side =>
          val shuffles = flattenPlan(side).collect { case s: ShuffleExchangeLike => s }
          assert(shuffles.isEmpty,
            s"store side of the band join must not shuffle, found: $shuffles")
        }
      } finally graft.plans.Stores.evict(spark, "graft_imgstore")
    }
  }

  test("q25e: the video container holds one REAL PNG per frame and the detector is blind to the schedule") {
    import graft.multimodal.Q25eVideoScenes
    val text = ("video fixtures hold still between cuts and jump to a new " +
      "payload region at each cut frame ") * 4
    // id 4 → 5 frames, one cut at f=2 ((4·31+2) % 7 == 0).
    val dir = writeDocs(Seq((4L, text.trim)))
    try {
      val vids = Q25eVideoScenes.videoTable(spark, dir).collect()
      assert(vids.length == 1)
      val container = vids(0).getAs[Array[Byte]]("container")
      val frames = Q25eVideoScenes.unpackFrames(container)
      assert(frames.length == 5, s"expected 5 frames, got ${frames.length}")
      val pngMagic = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt).map(_.toByte)
      frames.zipWithIndex.foreach { case (fb, i) =>
        assert(fb.take(4).sameElements(pngMagic), s"frame $i is not a PNG")
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fb))
        assert(img != null && img.getWidth > 0, s"frame $i failed to decode")
      }
      // Frames 0-1 are the first scene, 2-4 the second: PNG bytes
      // within a scene are identical stills, and differ across the cut.
      assert(frames(0).sameElements(frames(1)))
      assert(frames(2).sameElements(frames(3)) && frames(3).sameElements(frames(4)))
      assert(!frames(1).sameElements(frames(2)), "the cut must change the frame")
      // The detector (decoding only — no schedule access) finds it.
      val r = Q25eVideoScenes.run(spark, dir).collect()(0)
      assert((r.getLong(1), r.getLong(2)) == ((5L, 1L)))
      assert(r.getLong(3) >= Q25eVideoScenes.SceneHamming)
    } finally cleanup(dir)
  }

  test("q25f: the store is built once per corpus fingerprint and re-served untouched") {
    graft.plans.Stores.evict(spark, "graft_imgstore")
    try {
      val first = Q25fImageDedupStore.run(spark, sf).collect().toSeq.map(_.toSeq)
      val bandsT = Q25fImageDedupStore.ensureStore(spark, sf)
      val wh = java.nio.file.Paths.get(java.net.URI.create(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      def listing() = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.walk(wh.resolve(bandsT))
        try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .toVector.map(p => (p.getFileName.toString,
            java.nio.file.Files.getLastModifiedTime(p).toMillis)).sortBy(_._1)
        finally s.close()
      }
      val before = listing()
      val second = Q25fImageDedupStore.run(spark, sf).collect().toSeq.map(_.toSeq)
      assert(second == first)
      assert(listing() == before,
        "re-run must serve the stored hashes, not re-decode the corpus")
    } finally graft.plans.Stores.evict(spark, "graft_imgstore")
  }

  test("two-wave image ingest: admitted images join the store and catch the next wave's near-dups") {
    import graft.multimodal.Multimodal
    import Q25cImageFeatures.{extractImageFeatures, imageFrames, GridW, GridH}
    val textA = ("the seed corpus image content that wave one must not " +
      "collide with because its pixels are unrelated ") * 2
    val textB = ("a completely novel wave one image whose fingerprint meets " +
      "nothing in the seeded store at all ") * 2
    // id 3 = train png (seeds the store); id 24 = test png (wave 1).
    val dir = writeDocs(Seq((3L, textA.trim), (24L, textB.trim)))
    graft.plans.Stores.evict(spark, "graft_imgstore")
    try {
      val bandsT = Q25fImageDedupStore.ensureStore(spark, dir)
      val w1 = Q25fImageDedupStore.run(spark, dir).collect()
      assert(w1.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((24L, "new")), "wave 1 must be novel against the seed store")
      // Commit step: wave 1's accepted image joins the store.
      def featsOf(rows: Seq[(Long, String)]) =
        extractImageFeatures(imageFrames(Multimodal.mediaFrame(
          rows.map { case (id, t) => (id, t, t.length.toLong) }
            .toDF("doc_id", "text", "n_chars"))))
          .toDF().select(col("media_id"), col("dhash"))
      Q25fImageDedupStore.store.admit(featsOf(Seq((24L, textB.trim))), bandsT)
      // Wave 2: an off-grid single-pixel edit of wave 1's content —
      // dHash-identical — must now flag as a dup of the ADMITTED id.
      val tb = textB.trim
      val (w, h) = (16 + tb.length % 64, 16 + tb.length % 48)
      val sampled = (for (gy <- 0 until GridH; gx <- 0 until GridW)
        yield ((gy * h / GridH) * w + gx * w / GridW) % tb.length).toSet
      val off = (0 until tb.length).find(i => !sampled.contains(i) && tb(i) != 'x').get
      val w2 = Q25fImageDedupStore.store.formatVerdicts(
        Q25fImageDedupStore.store.verdictFrame(
          featsOf(Seq((102L, tb.updated(off, 'x')))),
          Q25fImageDedupStore.store.storeFrame(spark, bandsT))).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      assert(w2 == Seq((102L, "dup", 24L, 0L)),
        s"wave 2 must dup against the admitted image, got $w2")
      // The generic store compaction applies to the image store too:
      // at most one file per NON-EMPTY bucket after append growth
      // (this crafted store holds 2 hashes — most buckets are empty),
      // verdicts unchanged.
      val filesBefore = graft.plans.Bucketing.dataFileCount(spark, bandsT)
      graft.plans.Bucketing.compact(spark, bandsT, "bkey", 16)
      val filesAfter = graft.plans.Bucketing.dataFileCount(spark, bandsT)
      assert(filesAfter <= 16 && filesAfter <= filesBefore,
        s"compact must bound files to one per bucket, $filesBefore -> $filesAfter")
      val w2c = Q25fImageDedupStore.store.formatVerdicts(
        Q25fImageDedupStore.store.verdictFrame(
          featsOf(Seq((102L, tb.updated(off, 'x')))),
          Q25fImageDedupStore.store.storeFrame(spark, bandsT))).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      assert(w2c == w2, "compaction must not change verdicts")
    } finally {
      graft.plans.Stores.evict(spark, "graft_imgstore")
      cleanup(dir)
    }
  }

  test("Stores.gcMarkers sweeps orphaned marker+lock pairs and leaves live stores untouched") {
    import graft.plans.Stores
    val prefix = "graft_imgstore"
    Stores.evict(spark, prefix)
    val text = ("garbage collection removes the coordination residue of a " +
      "decommissioned corpus without touching live stores ") * 2
    val dir2 = writeDocs(Seq((3L, text.trim)))
    try {
      val live = Q25fImageDedupStore.ensureStore(spark, sf)
      val dead = Q25fImageDedupStore.ensureStore(spark, dir2)
      assert(live != dead, "different dirs must tag different stores")
      val wh = java.nio.file.Paths.get(java.net.URI.create(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      def names() = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(wh)
        try s.iterator().asScala.map(_.getFileName.toString).toVector
        finally s.close()
      }
      val deadTag = dead.stripPrefix(s"${prefix}_bands_").split("_")(0)
      val liveTag = live.stripPrefix(s"${prefix}_bands_").split("_")(0)
      // Decommission dir2's store the "abandoned" way: catalog entry
      // and data dir go, marker + lock stay — the residual gc closes.
      spark.sql(s"DROP TABLE IF EXISTS $dead")
      Stores.deleteTree(wh.resolve(dead))
      assert(names().exists(n => n.contains(deadTag) && n.endsWith(".committed")),
        "precondition: the orphaned marker must exist before gc")
      Stores.gcMarkers(spark, prefix)
      val after = names()
      assert(!after.exists(n => n.contains(deadTag)),
        s"gc must remove the dead tag's marker and lock, left: " +
          after.filter(_.contains(deadTag)).mkString(","))
      // The live family keeps data + marker (+ its lock), and a
      // subsequent ensure re-serves without rebuilding.
      assert(after.contains(live), "live data dir must survive gc")
      assert(after.exists(n => n.contains(liveTag) && n.endsWith(".committed")),
        "live marker must survive gc")
      assert(Q25fImageDedupStore.ensureStore(spark, sf) == live)
      assert(spark.catalog.tableExists(live))
    } finally {
      Stores.evict(spark, prefix)
      cleanup(dir2)
    }
  }
}
