package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.plans.{AdmitLog, Bucketing, FamilyRegistry, GuardTrace, Stores, TornAppendDrill}
import graft.queries._

/** Round 19 (VERDICT r18 brief + ADVICE r18):
  *  - production excise WRITE tier ≡ dump tier re-sorted (#2);
  *  - span/BM25 append compaction parity: ≥20 waves, file count
  *    collapses, serve row-identical, no corpus re-scan (#3);
  *  - repair-coverage AUDIT from the family registry: every
  *    appendable family's serve runs under a recovery guard, and a
  *    synthetic unguarded family fails the same drill (#5);
  *  - shard EXPORT byte-stability + manifest-checksum == file bytes
  *    (#6);
  *  - lossy JPEG tier: deterministic, genuinely lossy, bounded (#7);
  *  - ADVICE: AdmitLog must not bind a footer-less log dir; snapPath
  *    sweeps only COLD superseded snapshot dirs. */
class Round19Spec extends SparkSpec {

  private def wh = Stores.warehouse(spark)

  // ------------------------------------------------------------------
  // #2 — production excise write tier
  // ------------------------------------------------------------------

  test("q60c write tier: partitioned unsorted shards ≡ dump tier re-sorted") {
    val out = Files.createTempDirectory("q60c_shards").toString
    try {
      Q60cExciseDuplicates.writeShards(
        Tables.documents(spark, sf), out, nShards = 8)
      val dump = Q60cExciseDuplicates.run(spark, sf)
        .collect().map(_.toSeq).toSeq
      val back = spark.read.parquet(out)
      // every doc rides its own shard: shard == doc_id mod 8
      assert(back.filter(pmod(col("doc_id"), lit(8L)) =!= col("shard")).isEmpty,
        "a row landed outside its doc_id-mod shard")
      val shardDirs = {
        import scala.jdk.CollectionConverters._
        val s = Files.list(Paths.get(out))
        try s.iterator().asScala.count(_.getFileName.toString.startsWith("shard="))
        finally s.close()
      }
      assert(shardDirs > 1, s"expected multiple shard dirs, got $shardDirs")
      // column order: read-back schema may reorder vs the dump —
      // align by name before comparing
      val dumpCols = Q60cExciseDuplicates.run(spark, sf).schema.fieldNames
      val aligned = back.drop("shard")
        .select(dumpCols.map(col): _*).orderBy(col("doc_id"))
        .collect().map(_.toSeq).toSeq
      assert(aligned == dump,
        "write-tier rows re-sorted != dump-tier rows")
      assert(aligned.nonEmpty)
    } finally Stores.deleteTree(Paths.get(out))
  }

  // ------------------------------------------------------------------
  // #3 — span-store compaction parity
  // ------------------------------------------------------------------

  /** 25 waves of crafted delta docs, each contributing fresh span
    * hashes (wave-tagged tokens, ≥ Width long). */
  private def spanWave(w: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0 until 3).map { d =>
      val toks = (0 until 12).map(i => s"w${w}d${d}t$i").mkString(" ")
      (1000000L + w * 100L + d, toks)
    }.toDF("doc_id", "text")
  }

  test("span store: 25 admit waves fragment, compact collapses files, serve identical, no corpus re-scan") {
    // Private corpus copy so the no-re-scan claim is PROVABLE: after
    // the build, the corpus dir is deleted — compaction and serve
    // must both still work (they read only the store).
    val tmp = Files.createTempDirectory("spancorpus")
    try {
      val docsSrc = spark.read.parquet(s"$sf/documents.parquet")
      docsSrc.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val spansT = Q60dExciseStore.ensureStore(spark, tmp.toString)
      (0 until 25).foreach(w =>
        Q60dExciseStore.admit(spark, spanWave(w), spansT))
      val probe = spanWave(3).unionByName(spanWave(99)) // half dup, half new
      val before = Q60dExciseStore.serve(spark, probe, spansT)
        .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      val filesBefore = Bucketing.dataFileCount(spark, spansT)
      // ≥20 waves → at least one file per touched bucket per wave
      assert(filesBefore > 25, s"admit waves did not fragment: $filesBefore")
      Stores.deleteTree(tmp) // corpus gone — compaction must not re-scan it
      Q60dExciseStore.compactStore(spark, spansT)
      val filesAfter = Bucketing.dataFileCount(spark, spansT)
      assert(filesAfter <= 16,
        s"compaction did not collapse files: $filesBefore -> $filesAfter")
      val after = Q60dExciseStore.serve(spark, probe, spansT)
        .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      assert(after == before, "serve rows changed across compaction")
      // the bucket spec survives: appends still route (admit works)
      Q60dExciseStore.admit(spark, spanWave(101), spansT)
    } finally {
      Stores.deleteTree(tmp)
      Stores.evict(spark, "graft_spanstore")
    }
  }

  test("bm25 store: 25 admit waves, compact collapses both tables, serve identical") {
    import spark.implicits._
    Stores.evict(spark, "graft_bm25store")
    try {
      val (postT, lenT, metaT) = Q74bBm25Store.ensureStore(spark, sf)
      (0 until 25).foreach { w =>
        val docs = (0 until 2).map { d =>
          (5000000L + w * 10L + d,
            s"wave$w doc$d spark shuffle partition " +
              (0 until 6).map(i => s"w${w}x$i").mkString(" "))
        }.toDF("doc_id", "text")
        Q74bBm25Store.admit(spark, docs, postT, lenT, metaT)
      }
      val before = Q74bBm25Store.serveFrom(spark, postT, lenT, metaT)
        .collect().map(_.toSeq).toSeq
      val pBefore = Bucketing.dataFileCount(spark, postT)
      val lBefore = Bucketing.dataFileCount(spark, lenT)
      assert(pBefore > 25 && lBefore > 25,
        s"waves did not fragment: postings=$pBefore lengths=$lBefore")
      Q74bBm25Store.compactStore(spark, postT, lenT, metaT)
      assert(Bucketing.dataFileCount(spark, postT) <= 16 &&
        Bucketing.dataFileCount(spark, lenT) <= 16,
        "compaction did not collapse to <= bucket-count files")
      val after = Q74bBm25Store.serveFrom(spark, postT, lenT, metaT)
        .collect().map(_.toSeq).toSeq
      assert(after == before, "bm25 serve changed across compaction")
    } finally Stores.evict(spark, "graft_bm25store")
  }

  // ------------------------------------------------------------------
  // #5 — repair-coverage audit from the registry
  // ------------------------------------------------------------------

  test("repair audit: every appendable family's serve runs under a recovery guard") {
    FamilyRegistry.families.filter(_.appendable).foreach { fam =>
      assert(FamilyRegistry.serveGuarded(spark, sf, fam),
        s"family ${fam.prefix}: serve path touched no recovery guard " +
          "(ReadRepair.repairTable / AdmitLog.scrub) on its tables")
    }
  }

  test("repair audit: a synthetic UNGUARDED family fails the drill; unregistered graft_ prefixes are rejected") {
    // unregistered production prefix → loud failure at first ensure
    val e = intercept[IllegalArgumentException] {
      Stores.ensure(spark, "graft_r19bogus", sf, Seq("t")) { _ => () }
    }
    assert(e.getMessage.contains("FamilyRegistry"))
    // synthetic family whose serve reads the table with NO guard
    val fam = FamilyRegistry.StoreFamily("r19unguarded", appendable = true,
      (s, d) => Stores.ensure(s, "r19unguarded", d, Seq("t")) {
        case Seq(t) => s.range(10).write.format("parquet").saveAsTable(t)
      },
      (s, d) => {
        val t = Stores.ensure(s, "r19unguarded", d, Seq("t")) { _ => () }.head
        s.table(t).write.format("noop").mode("overwrite").save()
      })
    try assert(!FamilyRegistry.serveGuarded(spark, sf, fam),
      "an unguarded serve must FAIL the audit — the drill is vacuous")
    finally Stores.evict(spark, "r19unguarded")
  }

  // ------------------------------------------------------------------
  // #6 — shard export: byte stability + manifest == artifact
  // ------------------------------------------------------------------

  test("q58b export: byte-stable across re-runs; manifest checksum == file bytes") {
    val d1 = Files.createTempDirectory("q58b_a").toString
    val d2 = Files.createTempDirectory("q58b_b").toString
    try {
      val m1 = Q58bShardExport.exportShards(spark, sf, d1)
        .orderBy(col("lang"), col("shard_id")).collect()
      val m2 = Q58bShardExport.exportShards(spark, sf, d2)
        .orderBy(col("lang"), col("shard_id")).collect()
      assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq,
        "manifest not stable across re-runs")
      assert(m1.nonEmpty)
      def shardBytes(base: String, rel: String): Array[Byte] = {
        import scala.jdk.CollectionConverters._
        val dir = Paths.get(base, rel)
        val s = Files.list(dir)
        val parts =
          try s.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".txt"))
            .toVector
          finally s.close()
        assert(parts.size == 1,
          s"expected exactly ONE file per shard dir $rel, got ${parts.size}")
        Files.readAllBytes(parts.head)
      }
      m1.foreach { r =>
        val rel = r.getAs[String]("path")
        val bytes = shardBytes(d1, rel)
        // GoldenSpec-style: the two runs' shard files are byte-equal
        assert(java.util.Arrays.equals(bytes, shardBytes(d2, rel)),
          s"shard $rel bytes differ across re-runs")
        // the manifest checksum IS the artifact's md5
        val md5hex = java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString
        assert(md5hex == r.getAs[String]("checksum"),
          s"manifest checksum != file bytes for $rel")
      }
    } finally {
      Stores.deleteTree(Paths.get(d1))
      Stores.deleteTree(Paths.get(d2))
    }
  }

  // ------------------------------------------------------------------
  // #7 — lossy JPEG tier
  // ------------------------------------------------------------------

  test("q25k: deterministic, dims preserved, genuinely lossy, bounded error") {
    import graft.multimodal.{Multimodal, Q25kJpegLossy}
    val media = Multimodal.mediaTable(spark, sf)
    val a = Q25kJpegLossy.jpegFrames(media).collect()
      .map(r => r.media_id -> r.jpeg).toMap
    val b = Q25kJpegLossy.jpegFrames(media).collect()
      .map(r => r.media_id -> r.jpeg).toMap
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (id, bytes) =>
      assert(java.util.Arrays.equals(bytes, b(id)),
        s"jpeg encode not deterministic for media $id")
    }
    val feats = Q25kJpegLossy.extractJpeg(
      Q25kJpegLossy.jpegFrames(media)).collect()
    val meta = media.select(col("media_id"),
        col("meta.width"), col("meta.height"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    feats.foreach { f =>
      assert((f.width, f.height) == meta(f.media_id),
        s"decoded dims drifted for ${f.media_id}")
      assert(f.max_abs_err <= Q25kJpegLossy.MaxAbsErr,
        s"roundtrip error ${f.max_abs_err} above bound for ${f.media_id}")
    }
    // the property PNG cannot show: at least one image decodes
    // DIFFERENT from its source
    assert(feats.exists(_.max_abs_err > 0),
      "jpeg roundtrip was lossless everywhere — tier is not exercising lossy decode")
  }

  // ------------------------------------------------------------------
  // ADVICE r18 — AdmitLog bootstrap + snapPath sweep grace
  // ------------------------------------------------------------------

  test("admit log: a footer-less log dir (killed priming write) re-primes instead of wedging") {
    val logT = "r19_admlog_stub_admlog"
    Stores.dropManaged(spark, logT)
    val loc = wh.resolve(logT)
    try {
      // a first-ever priming write killed mid-write: directory with
      // only _temporary staging — no readable parquet footer anywhere
      Files.createDirectories(loc.resolve("_temporary/0"))
      Files.write(loc.resolve("_temporary/0/stub"), Array[Byte](1, 2, 3))
      val id = AdmitLog.begin(spark, logT) // must not throw
      assert(id == 0L, s"re-primed log must start admissions at 0, got $id")
      AdmitLog.commit(spark, logT, id)
      assert(AdmitLog.torn(spark, logT).isEmpty)
    } finally Stores.dropManaged(spark, logT)
  }

  test("snapPath: superseded sibling swept only after the grace window") {
    val base = "r19snap"
    val saved = Stores.SnapSweepGraceMs
    try {
      Stores.SnapSweepGraceMs = 3600L * 1000
      val live = Stores.snapPath(spark, base, sf)
      // plant a fake superseded sibling (same base+tag, different fp)
      val tag = Paths.get(live).getFileName.toString
        .stripPrefix(base + "_").split("_").head
      val stale = wh.resolve(s"${base}_${tag}_deadbeef")
      Files.createDirectories(stale)
      Files.write(stale.resolve("part.parquet"), Array[Byte](1))
      // within grace: the sibling survives (a sibling process's
      // just-written snapshot must outlive its oracle read)
      Stores.snapPath(spark, base, sf)
      assert(Files.isDirectory(stale), "fresh superseded dir was swept inside the grace window")
      // past grace: swept
      Stores.SnapSweepGraceMs = 0L
      Stores.snapPath(spark, base, sf)
      assert(!Files.exists(stale), "cold superseded dir survived the sweep")
    } finally {
      Stores.SnapSweepGraceMs = saved
      import scala.jdk.CollectionConverters._
      val s = Files.list(wh)
      val mine = try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(base + "_")).toVector
        finally s.close()
      mine.foreach(Stores.deleteTree)
    }
  }

  // ------------------------------------------------------------------
  // Registry-driven SIGKILL drills (the Round18 trio generalized):
  // every appendable family, resolved and torn through its OWN
  // FamilyRegistry entry, must serve green after a hard-killed append
  // ------------------------------------------------------------------

  test("registry-driven SIGKILL drills: each appendable family serves green after a torn append") {
    // The three families Round18Spec drills by hand (span/bm25/ann)
    // are excluded; these six are the coverage the registry adds.
    val drilled = Seq("graft_sigstore", "graft_lblstore",
      "graft_imgstore", "graft_audstore", "graft_vidstore",
      "graft_s19index")
    drilled.foreach { prefix =>
      val fam = FamilyRegistry.families.find(_.prefix == prefix)
        .getOrElse(fail(s"$prefix missing from FamilyRegistry"))
      val tables = fam.tables(spark, sf) // build/bind in THIS catalog
      TornAppendDrill.sigkill(prefix, sf, wh)
      val target = wh.resolve(tables(fam.drillIdx))
      assert(TornAppendDrill.tornParts(spark, target).nonEmpty,
        s"$prefix drill staged no torn part under $target")
      fam.serve(spark, sf) // must recover — no eviction, no failure
      assert(TornAppendDrill.tornParts(spark, target).isEmpty,
        s"$prefix: torn part survived the serve (guard did not engage)")
    }
  }

  // ------------------------------------------------------------------
  // Round-19 perf fix — the banded verify fast path is row-identical
  // ------------------------------------------------------------------

  test("banded store verify: bit-arithmetic fast path ≡ all-pairs brute force (crafted)") {
    import spark.implicits._
    import graft.multimodal.Q25fImageDedupStore
    val store = Q25fImageDedupStore.store
    // crafted hashes: exact dup, hamming-1..6 neighbours, far pair
    val base = "00112233445566aa"
    def flip(h: String, nibbleIdx: Int, to: Char): String =
      h.updated(nibbleIdx, to)
    val corpus = Seq(
      1L -> base,
      2L -> flip(base, 15, 'b'),      // hamming 1 (a->b)
      3L -> flip(base, 0, '1'),       // hamming 1 in top band
      4L -> "ffeeddccbbaa0099").toDF("media_id", "dhash")
    val delta = Seq(
      10L -> base,                    // exact (hamming 0)
      11L -> flip(base, 7, '7'),      // hamming within threshold
      12L -> "123456789abcdef0").toDF("media_id", "dhash")
    val storeF = store.bandRows(corpus)
      .select(col("bkey"), col("media_id").as("base_id"),
        col("dhash").as("base_dhash"))
    val got = store.formatVerdicts(store.verdictFrame(delta, storeF))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSeq
    // brute force in Scala
    def ham(a: String, b: String): Long = (0 until 16 by 2).map { i =>
      java.lang.Long.bitCount(
        java.lang.Long.parseLong(a.substring(i, i + 2), 16) ^
          java.lang.Long.parseLong(b.substring(i, i + 2), 16))
    }.sum.toLong
    val corpusMap = Seq(1L -> base, 2L -> flip(base, 15, 'b'),
      3L -> flip(base, 0, '1'), 4L -> "ffeeddccbbaa0099")
    val expect = Seq(10L -> base, 11L -> flip(base, 7, '7'),
      12L -> "123456789abcdef0").map { case (id, h) =>
      val best = corpusMap.map { case (bid, bh) => (ham(h, bh), bid) }
        .filter(_._1 <= 6).sorted.headOption
      (id, best.map(_ => "dup").getOrElse("new"),
        best.map(_._2), best.map(_._1))
    }
    assert(got.sortBy(_._1) == expect.sortBy(_._1),
      s"fast-path verdicts drifted from brute force:\n$got\nvs\n$expect")
  }
}
