package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import graft.plans.{AdmitLog, ReadRepair, Stores, TornAppendDrill}
import graft.queries._

/** Round 18 (VERDICT r17 next #1): append durability under HARD
  * kills. The round-17 protocols make builds atomic and append ROWS
  * exactly-once, but a SIGKILLed writer can leave a physically torn
  * part file visible under a still-valid commit marker — the store
  * is then unreadable until someone evicts the whole incarnation
  * (observed once in round 17 on the 1000× span store). The drills
  * here reproduce that literally: a forked JVM opens an append into
  * a committed store, stages a half-written part file (handle open,
  * bytes synced), and is SIGKILLed; the parent session must then
  * serve the store green with NO manual eviction — the [[ReadRepair]]
  * quarantine plus each family's existing row-level replay. */
class Round18Spec extends SparkSpec {

  private def wh = Stores.warehouse(spark)

  // ------------------------------------------------------------------
  // Unit gates for the repair itself
  // ------------------------------------------------------------------

  test("read-repair: torn envelopes quarantined, complete parts untouched, table reads green") {
    val dir = Files.createTempDirectory("repairunit")
    try {
      spark.range(10).select(col("id")).repartition(1)
        .write.mode("overwrite").parquet(dir.toString)
      val good = {
        import scala.jdk.CollectionConverters._
        val s = Files.list(dir)
        try s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toVector.head
        finally s.close()
      }
      val bytes = Files.readAllBytes(good)
      // (1) truncated tail — the kill-time signature
      Files.write(dir.resolve("part-00001-" +
        java.util.UUID.randomUUID() + "-c000.snappy.parquet"),
        java.util.Arrays.copyOfRange(bytes, 0, bytes.length / 2))
      // (2) sub-envelope stub (open() + kill before any real write)
      Files.write(dir.resolve("part-00002-" +
        java.util.UUID.randomUUID() + "-c000.snappy.parquet"),
        "PAR1".getBytes)
      // (3) right length, corrupted trailing magic
      val bad = bytes.clone(); bad(bad.length - 1) = '!'
      Files.write(dir.resolve("part-00003-" +
        java.util.UUID.randomUUID() + "-c000.snappy.parquet"), bad)
      // (4) magic intact, impossible footer length
      val insane = "PAR1".getBytes ++ Array.fill[Byte](8)(0) ++
        Array[Byte](-1, -1, -1, 0x7f) ++ "PAR1".getBytes
      Files.write(dir.resolve("part-00004-" +
        java.util.UUID.randomUUID() + "-c000.snappy.parquet"), insane)

      val moved = ReadRepair.repairLocation(spark,
        new org.apache.hadoop.fs.Path(dir.toUri))
      assert(moved.size == 4, s"expected 4 quarantined, got $moved")
      assert(Files.exists(good), "repair touched a complete part")
      val quar = dir.getParent.resolve(
        dir.getFileName.toString + ReadRepair.QuarantineSuffix)
      assert(Files.isDirectory(quar) &&
        Files.list(quar).count() >= 4, "quarantine dir not populated")
      assert(spark.read.parquet(dir.toString).count() == 10,
        "post-repair read not green")
      // idempotent: nothing left to move
      assert(ReadRepair.repairLocation(spark,
        new org.apache.hadoop.fs.Path(dir.toUri)).isEmpty)
      Stores.deleteTree(quar)
    } finally Stores.deleteTree(dir)
  }

  test("read-repair: the listing walks nested partitions and never enters hidden names") {
    val root = Files.createTempDirectory("repairtree")
    val quar = Files.createTempDirectory("repairtree-q")
    val lonely = Files.createTempDirectory("repairtree-staged")
    def hp(p: Path) = new org.apache.hadoop.fs.Path(p.toUri)
    try {
      spark.range(10).select(col("id")).repartition(1)
        .write.mode("overwrite").parquet(root.toString)
      val good = {
        import scala.jdk.CollectionConverters._
        val s = Files.list(root)
        try s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toVector.head
        finally s.close()
      }
      val bytes = Files.readAllBytes(good)
      val torn = java.util.Arrays.copyOfRange(bytes, 0, bytes.length / 2)
      def put(rel: String, b: Array[Byte]): Path = {
        val f = root.resolve(rel)
        Files.createDirectories(f.getParent)
        Files.write(f, b)
      }
      val nested = put("p=1/part-00001-torn.snappy.parquet", torn)
      val hidden = Seq(
        put("_temporary/0/part-00002-torn.snappy.parquet", torn),
        put(".staging/part-00003-torn.snappy.parquet", torn),
        put("_x.parquet", torn))

      val moved = ReadRepair.repairLocation(spark, hp(root), Some(hp(quar)))
      assert(moved == Seq(nested.getFileName.toString),
        s"expected only the nested torn part quarantined, got $moved")
      assert(!Files.exists(nested) &&
        Files.exists(quar.resolve(nested.getFileName)))
      hidden.foreach(h => assert(Files.exists(h), s"repair entered hidden $h"))
      assert(Files.exists(good), "repair touched a complete part")
      assert(ReadRepair.hasReadablePart(spark, hp(root)))

      // a complete part that sits only under staging is not readable
      val staged = lonely.resolve("_temporary/0/part-00000.snappy.parquet")
      Files.createDirectories(staged.getParent)
      Files.write(staged, bytes)
      assert(!ReadRepair.hasReadablePart(spark, hp(lonely)))
    } finally Seq(root, quar, lonely).foreach(Stores.deleteTree)
  }

  // ------------------------------------------------------------------
  // Snapshot bridges: dir-keyed, not last-run-wins (VERDICT r17 #5)
  // ------------------------------------------------------------------

  test("snapshot bridges: interleaved corpora each pair with their OWN snapshot") {
    // Two corpora interleaved through the same JVM; the SECOND run
    // must not steal the first's oracle pairing (the old @volatile
    // var handed both oracles the last run's snapshot).
    Q19eAnnIvfStore.run(spark, sf).collect()
    Q19eAnnIvfStore.run(spark, sf01).collect()
    Q70cSemanticDedupTrained.run(spark, sf).collect()
    Q70cSemanticDedupTrained.run(spark, sf01).collect()

    val snapA = Stores.snapPath(spark, "graft_q19e_probe_snap", sf,
      Seq("embeddings.parquet"))
    val snapB = Stores.snapPath(spark, "graft_q19e_probe_snap", sf01,
      Seq("embeddings.parquet"))
    val oA = Q19eAnnIvfStore.oracleFor(sf).get
    val oB = Q19eAnnIvfStore.oracleFor(sf01).get
    assert(oA != oB, "interleaved corpora share one oracle")
    assert(oA.contains(snapA) && !oA.contains(snapB),
      "sf oracle does not read sf's own probe snapshot")
    assert(oB.contains(snapB),
      "sf01 oracle does not read sf01's own probe snapshot")
    // `oracle` stays the driver contract: the LAST completed run.
    assert(Q19eAnnIvfStore.oracle == Q19eAnnIvfStore.oracleFor(sf01))
    // ...and the pinned CONTENT pairs with its own corpus: sf's probe
    // snapshot replays sf's own probe pick even after the sf01 run.
    val (centA, _) = Q19eAnnIvfStore.ensureStore(spark, sf)
    val expectA = Q19eAnnIvfStore
      .probesFor(spark, sf, centA, Q19dAnnIvf.NProbe).toSet
    val gotA = spark.read.parquet(snapA)
      .collect().map(_.getInt(0)).toSet
    assert(gotA == expectA,
      s"sf probe snapshot content drifted: $gotA vs $expectA")

    val o70A = Q70cSemanticDedupTrained.oracleFor(sf).get
    val o70B = Q70cSemanticDedupTrained.oracleFor(sf01).get
    assert(o70A != o70B && o70A.contains(Stores.snapPath(spark,
      "graft_q70c_cent_snap", sf, Seq("embeddings.parquet"))),
      "q70c oracles cross-paired under interleaving")
  }

  // ------------------------------------------------------------------
  // Sample-nibbled layout: the 1/16 scan prune is real (VERDICT r17 #4)
  // ------------------------------------------------------------------

  test("sample-nibbled layout: sampled decide partition-prunes to ~1/16 of the bytes, verdicts unchanged") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val (piecesT, statsT) =
      Q64oWordpieceDriftGatedStore.ensureStore(spark, sf01)
    val docs = Tables.documents(spark, sf01)
    val nibDir = Files.createTempDirectory("niblayout")
    try {
      graft.plans.Layout.writeSampleNibbled(docs, nibDir.toString)
      val nibbled = spark.read.parquet(nibDir.toString)
      val pruned = Q64qSampledDriftGate
        .decideSampledPruned(spark, piecesT, statsT, nibbled)
      val prunedRows = pruned.collect().map(_.toString).sorted.toSeq
      // Same verdict frame as the standard-layout sampled decide —
      // the layout changes the SCAN, never the answer.
      val expect = Q64qSampledDriftGate
        .decideSampled(spark, piecesT, statsT, docs)
        .collect().map(_.toString).sorted.toSeq
      assert(prunedRows == expect,
        "nibbled-layout decide diverges from the standard-layout decide")
      // The sampled arm's scan PRUNES: a partition filter on _nib
      // reached the nibbled layout's scan, and the bytes it read are
      // ~1/16 of the layout (≤ 0.15 allows nibble-population skew on
      // a 500-doc fixture).
      val scans = flattenPlan(pruned.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains(nibDir.getFileName.toString)) => f }
      assert(scans.nonEmpty, "no scan of the nibbled layout in the plan")
      val prunedScans = scans.filter(_.partitionFilters.nonEmpty)
      assert(prunedScans.nonEmpty,
        "the _nib filter never became a partition filter")
      val perScan = prunedScans.map(_.metrics("filesSize").value)
      val totalBytes = {
        import scala.jdk.CollectionConverters._
        val s = Files.walk(nibDir)
        try s.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(Files.size(_)).sum
        finally s.close()
      }
      // EACH pruned scan instance touches only the sampled 1/16 of
      // the layout's bytes (≤ 0.15 allows nibble-population skew on
      // a 500-doc fixture). The plan may instantiate the sampled
      // subtree more than once — that's the query's shape, priced by
      // the decade row; the LAYOUT claim is the per-scan prune.
      assert(perScan.forall(b => b > 0 && b <= (totalBytes * 0.15).toLong),
        s"a sampled scan read ${perScan.max} of $totalBytes bytes — not pruned")
    } finally Stores.deleteTree(nibDir)
  }

  // ------------------------------------------------------------------
  // Media admit guard: torn admissions excised exactly (round-18
  // extension of VERDICT r17 #1 — the bm25 guard applied to the
  // unguarded media appends)
  // ------------------------------------------------------------------

  test("media admit crash injection: torn band rows are scrubbed at the next serve, then re-admit cleanly") {
    import spark.implicits._
    import graft.multimodal.{Multimodal, Q25cImageFeatures, Q25fImageDedupStore}
    val textA = ("the seed corpus image content that wave one must not " +
      "collide with because its pixels are unrelated ") * 2
    val textB = ("a completely novel wave one image whose fingerprint meets " +
      "nothing in the seeded store at all ") * 2
    val dir = java.nio.file.Files.createTempDirectory("r18media").toString
    // id 3 = train (seeds the store); id 24 = test (the delta).
    Seq((3L, textA.trim), (24L, textB.trim))
      .map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Stores.evict(spark, "graft_imgstore")
    try {
      val bandsT = Q25fImageDedupStore.ensureStore(spark, dir)
      def storeRows() = Q25fImageDedupStore
        .store.storeFrame(spark, bandsT).collect().map(_.toString).sorted.toSeq
      val baseline = storeRows()
      def featsOf(rows: Seq[(Long, String)]) =
        Q25cImageFeatures.extractImageFeatures(
          Q25cImageFeatures.imageFrames(Multimodal.mediaFrame(
            rows.map { case (id, t) => (id, t, t.length.toLong) }
              .toDF("doc_id", "text", "n_chars"))))
          .toDF().select(col("media_id"), col("dhash"))
      val logT = AdmitLog.logTableOf(bandsT)
      // Crash between the data append and the commit marker.
      intercept[RuntimeException] {
        Q25fImageDedupStore.store.admit(featsOf(Seq((24L, textB.trim))),
          bandsT, injectCrashAfter = 1)
      }
      assert(AdmitLog.torn(spark, logT).nonEmpty, "no torn intent logged")
      // The next serve excises the torn admission's rows: the store
      // reads EXACTLY its pre-append state, so re-running the ingest
      // decision replays the whole admission.
      assert(storeRows() == baseline,
        "torn media admission's rows survived the serve-side scrub")
      assert(AdmitLog.torn(spark, logT).isEmpty, "torn intent unresolved")
      // Clean re-admit of the same delta lands and is visible.
      Q25fImageDedupStore.store.admit(featsOf(Seq((24L, textB.trim))), bandsT)
      val after = storeRows()
      assert(after.size > baseline.size &&
        after.exists(_.contains("24")),
        "re-admitted delta did not join the store")
      assert(AdmitLog.torn(spark, logT).isEmpty)
    } finally {
      Stores.evict(spark, "graft_imgstore")
      Stores.deleteTree(java.nio.file.Paths.get(dir))
    }
  }

  // ------------------------------------------------------------------
  // SIGKILL drill harness: TornAppendDrill.sigkill forks the drill
  // against OUR warehouse and returns once it is dead with the torn
  // state on disk
  // ------------------------------------------------------------------

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ------------------------------------------------------------------
  // Family drills: kill mid-append, serve green, no eviction
  // ------------------------------------------------------------------

  test("epoch drill: SIGKILL mid-epoch (torn part + unmarked rows + uncommitted offset) — checkpoint restart recovers exactly-once") {
    import graft.streaming.StreamQueries
    import graft.queries.Q74Bm25
    val scratch = Files.createTempDirectory("r18epoch")
    val runT = "graft_drill_epochtab"
    val markerT = StreamQueries.epochMarkerTable(runT)
    try {
      Tables.documents(spark, sf).repartition(3)
        .write.parquet(s"$scratch/delta")
      Seq(runT, markerT).foreach(Stores.dropManaged(spark, _))

      TornAppendDrill.sigkill("epoch", sf, wh, Seq(scratch.toString))
      assert(TornAppendDrill.tornParts(spark, wh.resolve(runT)).nonEmpty,
        "drill left no torn part under the epoch table")

      // The restarting process: repair precedes ANY footer read (the
      // Stores.ensure order — binding infers schema from a parquet
      // footer and the torn part could be the one it picks)...
      ReadRepair.repairTable(spark, runT)
      Seq(runT, markerT).foreach { t =>
        val loc = wh.resolve(t)
        val ddl = spark.read.parquet(loc.toString).schema.toDDL
        spark.sql(s"CREATE TABLE $t ($ddl) USING parquet " +
          s"LOCATION '${loc.toUri}'")
      }
      // ...then the SAME checkpoint re-delivers the killed epoch: the
      // guard sees rows-without-marker, scrubs, re-applies; the
      // remaining epochs follow. Epoch 0 committed BEFORE the kill
      // and must survive untouched.
      assert(spark.table(markerT).filter(col("_epoch") === 0L).count() == 1,
        "epoch 0 should have committed before the kill")
      val sch = spark.read.parquet(s"$scratch/delta").schema
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$scratch/delta/*.parquet")
      val applied = StreamQueries.maintainAppend(spark, runT, stream,
        Some(s"$scratch/ckpt"))(Q74Bm25.postingsOf)
      assert(applied == 2L,
        s"expected killed epoch 1 re-applied + epoch 2, got $applied")
      assert(TornAppendDrill.tornParts(spark, wh.resolve(runT)).isEmpty,
        "a torn part survived the restart")
      val got = StreamQueries.epochless(spark.table(runT))
        .collect().map(_.toString).sorted.toSeq
      val expect = Q74Bm25.postingsOf(Tables.documents(spark, sf))
        .collect().map(_.toString).sorted.toSeq
      assert(got == expect,
        "recovered streamed index diverged from the batch tokenize")
    } finally {
      Seq(runT, markerT).foreach(Stores.dropManaged(spark, _))
      Stores.deleteTree(wh.resolve(runT + ReadRepair.QuarantineSuffix))
      Stores.deleteTree(scratch)
    }
  }

  test("bm25 drill: SIGKILL mid-admission (torn lengths part + committed postings) — store serves green, no eviction") {
    val (postT, lenT, metaT) = Q74bBm25Store.ensureStore(spark, sf)
    val before = rowsOf(Q74bBm25Store.run(spark, sf))
    val marker = {
      val seg = postT.split("_")
      wh.resolve(s"graft_bm25store_${seg(seg.length - 2)}_${seg.last}.committed")
    }
    assert(Files.exists(marker), "no commit marker before the drill")
    val markerM = Files.getLastModifiedTime(marker)

    TornAppendDrill.sigkill("bm25", sf, wh)
    assert(TornAppendDrill.tornParts(spark, wh.resolve(lenT)).nonEmpty,
      "drill left no torn part under the lengths table")
    val logT = AdmitLog.logTableOf(postT)

    // Recovery = the ordinary serve path. No eviction, no rebuild.
    val after = rowsOf(Q74bBm25Store.run(spark, sf))
    assert(after == before,
      "post-kill serve diverges from the pre-kill serve")
    assert(TornAppendDrill.tornParts(spark, wh.resolve(lenT)).isEmpty &&
      TornAppendDrill.tornParts(spark, wh.resolve(postT)).isEmpty,
      "a torn part survived recovery")
    assert(Files.isDirectory(
      wh.resolve(lenT + ReadRepair.QuarantineSuffix)),
      "torn part was not quarantined")
    assert(Files.getLastModifiedTime(marker) == markerM,
      "recovery rebuilt the store (marker rewritten) instead of repairing")
    // The torn admission is resolved...
    assert(AdmitLog.torn(spark, logT).isEmpty, "torn intent unresolved")
    // ...and the admission-log REPLAY is legal again: the killed
    // delta's doc_ids are fully excised from the replay guard's view,
    // so the caller's re-admit (Round14Spec proves it lands cleanly)
    // would pass the guard instead of tripping on half-landed rows.
    assert(spark.table(lenT)
      .filter(col("doc_id") >= 900000000L).isEmpty &&
      spark.table(postT).filter(col("_adm") >= 0L).isEmpty,
      "killed admission's rows survived the scrub — replay would double-count")
  }

  test("span drill: SIGKILL mid-ingest (first part torn) — the observed round-17 hazard serves green, no eviction") {
    val spansT = Q60dExciseStore.ensureStore(spark, sf)
    val before = rowsOf(Q60dExciseStore.run(spark, sf))
    val marker = {
      val seg = spansT.split("_")
      wh.resolve(s"graft_spanstore_${seg(seg.length - 2)}_${seg.last}.committed")
    }
    val markerM = Files.getLastModifiedTime(marker)

    TornAppendDrill.sigkill("span", sf, wh)
    assert(TornAppendDrill.tornParts(spark, wh.resolve(spansT)).nonEmpty,
      "drill left no torn part under the span store")

    val after = rowsOf(Q60dExciseStore.run(spark, sf))
    assert(after == before,
      "post-kill span serve diverges from the pre-kill serve")
    assert(TornAppendDrill.tornParts(spark, wh.resolve(spansT)).isEmpty,
      "torn span part survived recovery")
    assert(Files.isDirectory(
      wh.resolve(spansT + ReadRepair.QuarantineSuffix)),
      "torn span part was not quarantined")
    assert(Files.getLastModifiedTime(marker) == markerM,
      "span recovery rebuilt instead of repairing")
  }

  test("ann drill: SIGKILL mid-ingest into a probed list partition — pruned serve repairs exactly what it reads") {
    val (centT, listsT) = Q19eAnnIvfStore.ensureStore(spark, sf)
    val before = rowsOf(Q19eAnnIvfStore.run(spark, sf))
    val marker = {
      val seg = listsT.split("_")
      wh.resolve(s"graft_annstore_${seg(seg.length - 2)}_${seg.last}.committed")
    }
    val markerM = Files.getLastModifiedTime(marker)

    TornAppendDrill.sigkill("ann", sf, wh)
    assert(TornAppendDrill.tornParts(spark, wh.resolve(listsT)).nonEmpty,
      "drill left no torn part under the lists table")

    val after = rowsOf(Q19eAnnIvfStore.run(spark, sf))
    assert(after == before,
      "post-kill ANN serve diverges from the pre-kill serve")
    assert(TornAppendDrill.tornParts(spark, wh.resolve(listsT)).isEmpty,
      "torn list part survived recovery")
    assert(Files.isDirectory(
      wh.resolve(listsT + ReadRepair.QuarantineSuffix)),
      "torn list part was not quarantined outside the table root")
    assert(Files.getLastModifiedTime(marker) == markerM,
      "ANN recovery rebuilt instead of repairing")
  }
}
