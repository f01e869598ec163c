package graft

import org.apache.spark.sql.functions._
import graft.queries.{Q64BpeMerges, Q64cBpeMergesLocal}

/** Round 11: q64c driver-local BPE learning — trajectory identity with
  * q64's Spark-iterative loop, incremental-structure cross-check at
  * K ≥ 120 against a naive full-recount reference, and exhaustion
  * semantics. */
class Round11Spec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("r11bpe").toString
    rows.map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def cleanup(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  /** Naive full-recount BPE (rebuilds every pair count each
    * iteration) — the published algorithm transcribed directly,
    * independent of q64c's incremental pair-count maintenance. */
  private def naiveBpe(freq: Map[String, Long], k: Int)
      : (Seq[(Int, String, String, String, Long)], Map[String, Int]) = {
    var words = freq.toSeq.map { case (w, c) => (w, w.map(_.toString).toVector, c) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var exhausted = false
    for (i <- 1 to k if !exhausted) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((_, syms, c) <- words; j <- 0 until syms.length - 1)
        pc((syms(j), syms(j + 1))) = pc.getOrElse((syms(j), syms(j + 1)), 0L) + c
      if (pc.isEmpty) exhausted = true
      else {
        val ((l, r), n) = pc.toSeq.sortBy { case ((a, b), m) => (-m, a, b) }.head
        out += ((i, l, r, l + r, n))
        words = words.map { case (w, syms, c) =>
          val b = Vector.newBuilder[String]; var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
              b += (l + r); j += 2
            } else { b += syms(j); j += 1 }
          }
          (w, b.result(), c)
        }
      }
    }
    (out.toSeq, words.map { case (w, syms, _) => w -> syms.length }.toMap)
  }

  private def runRows(dir: String): Seq[(Int, String, String, String, Long)] =
    Q64cBpeMergesLocal.run(spark, dir).collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4)))

  test("q64c: driver-local trajectory equals the hand-derived Sennrich-example trajectory (and q64's)") {
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val dir = writeDocs(Seq((1L, text)))
    try {
      val want = Seq(
        (1, "e", "s", "es", 9L),
        (2, "es", "t", "est", 9L),
        (3, "l", "o", "lo", 7L),
        (4, "lo", "w", "low", 7L),
        (5, "e", "w", "ew", 6L),
        (6, "ew", "est", "ewest", 6L))
      assert(runRows(dir) == want)
      // Trajectory identity with the Spark-iterative tier on the same
      // corpus — the two formulations share the oracle because they
      // share the answer.
      val sparkTier = Q64BpeMerges.run(spark, dir).collect().toSeq
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
          r.getLong(4)))
      assert(sparkTier == want)
    } finally cleanup(dir)
  }

  test("q64c: identical-symbol runs pair off non-overlapping, learning exhausts cleanly") {
    val text = (Seq.fill(3)("aaaa") ++ Seq.fill(2)("aaa")).mkString(" ")
    val dir = writeDocs(Seq((1L, text)))
    try {
      assert(runRows(dir) == Seq(
        (1, "a", "a", "aa", 13L),
        (2, "aa", "aa", "aaaa", 3L),
        (3, "aa", "a", "aaa", 2L)))
    } finally cleanup(dir)
  }

  test("q64c: incremental pair-count maintenance matches the naive recount at K = 150") {
    // Pure in-memory cross-check — the incremental structure (delta
    // updates + inverted index + ordered tree) against the naive
    // rebuild, deep into the trajectory where stale counts, missed
    // membership updates, or tie-break drift would have compounded.
    val rnd = new scala.util.Random(1311)
    for (trial <- 1 to 3) {
      val alphabet = "abcd"
      val vocab = (1 to 400).map { _ =>
        val len = 1 + rnd.nextInt(10)
        (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }.distinct
      val freq = vocab.map(w => w -> (1L + rnd.nextInt(50))).toMap
      val k = 150
      val (gotTraj, gotTok) = Q64cBpeMergesLocal.learnInMemory(freq.toSeq.sortBy(_._1), k)
      val (wantTraj, wantTok) = naiveBpe(freq, k)
      assert(gotTraj == wantTraj, s"trial $trial trajectory diverged")
      assert(gotTok == wantTok, s"trial $trial final tokenization diverged")
    }
  }

  test("q64c: per-merge cost is incremental — later merges touch few words") {
    // Not a wall-clock assertion (HISTORY.md's round-11 scale points
    // hold those): assert the STRUCTURAL property that makes K≈30k
    // viable — the learner completes a merge budget 25× q64's on a
    // realistic vocabulary in one call, and the trajectory prefix is
    // stable under k (merge i does not depend on the budget).
    val docs = Tables.documents(spark, sf)
    val freq = graft.queries.Bpe.wordFreq(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(docs.count() > 0 && freq.nonEmpty)
    val k = 150
    val (traj, tok) = Q64cBpeMergesLocal.learnInMemory(freq, k)
    // The fixture vocabulary may exhaust before k merges (every word
    // reduced to a single symbol) — that IS the terminal state of BPE
    // learning; otherwise the full budget must be spent.
    assert(traj.length == k || tok.values.forall(_ == 1),
      s"stopped at ${traj.length} merges without exhausting the vocabulary")
    assert(traj.length >= 50, s"fixture trajectory too short: ${traj.length}")
    // Prefix stability: the first 6 merges of the K=150 run ARE q64's
    // 6-merge trajectory (the driver-facing oracle contract).
    val (short, _) = Q64cBpeMergesLocal.learnInMemory(freq, 6)
    assert(traj.take(6) == short)
    // Counts are non-increasing along the trajectory (each merge
    // consumes the current max).
    val counts = traj.map(_._5)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // Every learned token is reachable: final tokenization lengths
    // are bounded by word length and at least 1.
    assert(tok.forall { case (w, n) => n >= 1 && n <= w.length })
  }

  // ---- q25c/q25d image modality --------------------------------------

  test("q25c: PNG encode/decode roundtrip is bit-exact and dims come from the decoded image") {
    import graft.multimodal.Q25cImageFeatures
    val text = "the quick brown fox jumps over the lazy dog " * 3
    // doc_id 3: doc_id % 3 == 0 -> png tier.
    val dir = writeDocs(Seq((3L, text.trim)))
    try {
      val rows = Q25cImageFeatures.imageTable(spark, dir).collect()
      assert(rows.length == 1)
      val r = rows(0)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      assert((img.getWidth, img.getHeight) == ((r.width, r.height)))
      val bytes = text.trim.getBytes("UTF-8")
      val raster = img.getRaster
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        assert(raster.getSample(x, y, 0) ==
          (bytes((y * img.getWidth + x) % bytes.length) & 0xff),
          s"pixel ($x,$y) lost in the PNG roundtrip")
      // And the features frame reports the decoded dims.
      val f = Q25cImageFeatures.run(spark, dir).collect()(0)
      assert((f.getInt(1), f.getInt(2)) == ((r.width, r.height)))
      assert(f.getString(3).length == 16 &&
        f.getString(3).forall("0123456789abcdef".contains(_)))
    } finally cleanup(dir)
  }

  test("q25d: a crafted off-grid single-pixel edit is a hamming-0 near-dup pair; an unrelated image is not") {
    import graft.multimodal.{Q25cImageFeatures, Q25dImageNearDup}
    import Q25cImageFeatures.{GridW, GridH}
    val base = ("content dedup finds perceptually identical images even when " +
      "bytes differ slightly in places the fingerprint does not sample ") * 2
    val textA = base.trim
    val len = textA.length
    val (w, h) = (16 + len % 64, 16 + len % 48)
    // Positions the 9x8 grid samples (the only ones dHash can see).
    val sampled = (for (gy <- 0 until GridH; gx <- 0 until GridW)
      yield ((gy * h / GridH) * w + gx * w / GridW) % len).toSet
    val off = (0 until len).find(i => !sampled.contains(i) && textA(i) != 'x').get
    val textB = textA.updated(off, 'x')
    assert(textA != textB && textB.length == len)
    // Unrelated image: same length (same dims) but reversed content.
    val textC = textA.reverse
    // ids 3, 6, 9: all in the png tier (doc_id % 3 == 0).
    val dir = writeDocs(Seq((3L, textA), (6L, textB), (9L, textC)))
    try {
      val feats = Q25cImageFeatures.extractImageFeatures(
        Q25cImageFeatures.imageTable(spark, dir)).toDF()
      val byId = feats.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(byId(3L) == byId(6L), "off-grid edit must not change the dHash")
      assert(byId(3L) != byId(9L), "reversed content must change the dHash")
      val pairs = Q25dImageNearDup.nearDupPairs(
        feats.select(col("media_id"), col("dhash")))
        .orderBy(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(pairs == Seq((3L, 6L, 0L)),
        s"expected exactly the crafted near-dup pair, got $pairs")
      // Band-width knob: a 16-bit band match is two adjacent 8-bit
      // band matches, so the wide-band candidate set is a SUBSET of
      // the default's — tighter buckets can only drop pairs — and an
      // identical-hash pair (all bands match at any width) survives.
      val hashes = feats.select(col("media_id"), col("dhash"))
      def pairSet(bits: Int) = Q25dImageNearDup.verifiedCandidates(hashes, bits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val (narrow, wide) = (pairSet(8), pairSet(16))
      assert(wide.subsetOf(narrow), s"wide $wide not within narrow $narrow")
      assert(wide.contains((3L, 6L)), "identical pair must survive any band width")
    } finally cleanup(dir)
  }

  test("q64c at production merge counts: K=30k on a 100k-word Zipf vocabulary completes in seconds") {
    // The round-10 verdict's sizing claim, exercised directly instead
    // of argued: a real tokenizer needs K≈30k merges over a ~10⁵–10⁷
    // word vocabulary. The fixture corpus cannot provide that (31
    // distinct words), so synthesize a Zipf-weighted 100k-word
    // vocabulary — the learner's input is the (word, cnt) table, so
    // this IS the production-shaped workload; only the one corpus
    // scan upstream of it scales with data, and that term is priced
    // in HISTORY.md's round-11 scale points. Deterministic seed;
    // trajectory cross-checked against the naive recount on its first 150 merges (running the
    // naive learner to 30k would be O(K·vocab·len) — the exact cost
    // the incremental structure exists to avoid).
    val rnd = new scala.util.Random(3011)
    val alphabet = "abcdefghijklmnop"
    val freq = (1 to 100000).map { i =>
      val len = 2 + rnd.nextInt(12)
      val w = (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      w -> (1L + (1000000L / i)) // Zipf-ish head/tail
    }.groupBy(_._1).map { case (w, ws) => w -> ws.map(_._2).sum }.toSeq.sortBy(_._1)
    val k = 30000
    val t0 = System.nanoTime()
    val (traj, tok) = Q64cBpeMergesLocal.learnInMemory(freq, k)
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"vocab=${freq.size} merges=${traj.length} learn=$sec%.1fs " +
      f"(${sec * 1000 / math.max(traj.length, 1)}%.2f ms/merge)")
    assert(traj.length == k || tok.values.forall(_ == 1),
      s"stopped at ${traj.length} without exhausting")
    assert(traj.length >= 20000, s"trajectory too short: ${traj.length}")
    // Sanity of the learned vocabulary: counts non-increasing, all
    // merged symbols reachable from the alphabet.
    val counts = traj.map(_._5)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // Prefix cross-checks: budget independence (merge i cannot depend
    // on K) and the naive recount reference on the first 50 merges —
    // at this vocabulary the naive learner costs ~10⁸ ops for even 50
    // merges, which is exactly why the incremental structure exists.
    val (short, _) = Q64cBpeMergesLocal.learnInMemory(freq, 150)
    assert(traj.take(150) == short, "budget changed the trajectory prefix")
    assert(traj.take(50) == naiveBpe(freq.toMap, 50)._1,
      "incremental learner diverged from the naive reference")
    assert(sec < 120.0, f"in-memory learning too slow: $sec%.1fs")
  }

  test("q25e: hash-distance scene detection recovers the deterministic cut schedule") {
    import graft.multimodal.Q25eVideoScenes
    // Class-1 media ids (doc_id % 3 == 1) with known cut schedules:
    // cuts advance at f ≥ 1 where (id·31 + f) % 7 == 0, n_frames =
    // 1 + id % 30. id 4 → 5 frames, one cut (f=2); id 7 → 8 frames,
    // one cut (f=7); id 31 → 2 frames, no cut (a still).
    val text = ("video fixtures hold still between cuts and jump to a new " +
      "payload region at each cut frame ") * 4
    val ids = Seq(4L, 7L, 31L)
    val dir = writeDocs(ids.map(id => (id, text.trim)))
    try {
      val rows = Q25eVideoScenes.run(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val schedule = ids.map { id =>
        val nf = 1 + (id % 30)
        id -> (1L until nf).count(f => (id * 31 + f) % 7 == 0).toLong
      }.toMap
      assert(schedule == Map(4L -> 1L, 7L -> 1L, 31L -> 0L)) // pin the arithmetic
      ids.foreach { id =>
        val (nf, changes, maxHam) = rows(id)
        assert(nf == 1 + (id % 30))
        assert(changes == schedule(id),
          s"id $id: detector found $changes cuts, schedule has ${schedule(id)}")
        if (schedule(id) == 0)
          assert(maxHam == 0, s"a still video must have identical frame hashes")
        else assert(maxHam >= Q25eVideoScenes.SceneHamming)
      }
    } finally cleanup(dir)
  }

  test("q64d: the production path (local learn + broadcast encode) equals q64b and broadcasts the dictionary") {
    import graft.queries.{Q64bBpeEncode, Q64dBpeEncodeLocal}
    val a = Q64dBpeEncodeLocal.run(spark, sf)
    val b = Q64bBpeEncode.run(spark, sf)
    assert(a.collect().toSeq.map(_.toSeq) == b.collect().toSeq.map(_.toSeq),
      "the two learning tiers must be indistinguishable downstream")
    // Plan posture: the vocab-sized dictionary rides a broadcast hash
    // join — the corpus-side tokenize pass must not shuffle to meet it.
    val plan = flattenPlan(a.queryExecution.executedPlan)
    assert(plan.exists(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "dictionary join must be broadcast:\n" + a.queryExecution.executedPlan)
  }

  test("q64e: the persisted vocabulary is trained once per corpus fingerprint and re-served untouched") {
    import graft.queries.{Q64bBpeEncode, Q64eBpeEncodeStore}
    graft.plans.Stores.evict(spark, "graft_bpestore")
    try {
      val first = Q64eBpeEncodeStore.run(spark, sf).collect().toSeq.map(_.toSeq)
      val vocabT = Q64eBpeEncodeStore.ensureVocab(spark, sf)
      val wh = java.nio.file.Paths.get(java.net.URI.create(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      def listing() = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.walk(wh.resolve(vocabT))
        try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .toVector.map(p => (p.getFileName.toString,
            java.nio.file.Files.getLastModifiedTime(p).toMillis)).sortBy(_._1)
        finally s.close()
      }
      val before = listing()
      // Second run: same rows, store files untouched (no retrain).
      val second = Q64eBpeEncodeStore.run(spark, sf).collect().toSeq.map(_.toSeq)
      assert(second == first)
      assert(listing() == before, "re-run must serve the stored vocabulary, not retrain")
      // And all three encode tiers agree (the shared-oracle contract).
      assert(first == Q64bBpeEncode.run(spark, sf).collect().toSeq.map(_.toSeq))
    } finally graft.plans.Stores.evict(spark, "graft_bpestore")
  }

  test("s11 runs on the heap state store (bounded per-source state), not the RocksDB ingest default") {
    // r10 verdict: s11's dashboard state is bounded by source
    // cardinality — paying RocksDB's native per-trigger cost there
    // bought nothing but a 2.6× floor breach. The RocksDB default is
    // scoped to streams whose state grows with the stream (s12/s12b);
    // s11 must stay on the heap store even with the default ON.
    import graft.streaming.{StreamQueries, S11StreamCuration}
    val rows = S11StreamCuration.run(spark, sf).collect().toSeq
    assert(rows.nonEmpty)
    assert(!StreamQueries.lastStateMetrics.exists(_.toLowerCase.contains("rocksdb")),
      s"s11 engaged RocksDB: ${StreamQueries.lastStateMetrics}")
    // And the result is still the batch dashboard (the oracle shape).
    val batch = S11StreamCuration.dashboard(
      S11StreamCuration.gated(Tables.documents(spark, sf)))
      .orderBy(col("source")).collect().toSeq
    assert(rows == batch)
  }
}
