package graft

import org.apache.spark.sql.functions._
import graft.queries.Q72HtmlExtract

/** Round 12: the HTML → text front end (q72). The sf-corpus behavior
  * is oracle-gated; these tests pin what the oracle can't — a KNOWN
  * hand-written page producing a KNOWN extraction, and each gate's
  * discriminating block in isolation. */
class Round12Spec extends SparkSpec {
  import spark.implicits._

  private def extractOne(html: String): (Long, Long, String) = {
    val r = Q72HtmlExtract.extract(
        Seq((0L, html)).toDF("doc_id", "html"))
      .select(col("n_blocks"), col("n_kept"), col("extracted"))
      .head()
    (r.getLong(0), r.getLong(1), r.getString(2))
  }

  test("q72: known page → known text") {
    val html =
      "<html><head><title>the little page</title>" +
        "<style>body { margin: 0; }</style>" +
        "<script>if (a < b) { f(); }</script></head><body>" +
        "<div><a href=\"/\">home</a> <a href=\"/shop\">shop now</a></div>" +
        "<p>the quick brown fox jumps over the lazy dog near the river bank</p>" +
        "<p>a second paragraph of honest prose with a single " +
        "<a href=\"/ref\">reference link</a> inside it</p>" +
        "<p>ok</p>" +
        "<div>copyright 2024 example corporation rights reserved worldwide</div>" +
        "</body></html>"
    val (nBlocks, nKept, extracted) = extractOne(html)
    // blocks: title, nav, p1, p2, "ok", copyright (the trailing
    // </body></html> fragment strips to empty and is not counted)
    assert(nBlocks === 6L)
    assert(nKept === 2L)
    assert(extracted ===
      "the quick brown fox jumps over the lazy dog near the river bank " +
      "a second paragraph of honest prose with a single reference link inside it")
  }

  test("q72: each gate removes exactly its discriminating block") {
    // long enough + no links, but ZERO stopwords → stopword gate
    val (_, k1, _) = extractOne(
      "<p>copyright notice example corporation rights reserved</p>")
    assert(k1 === 0L)
    // prose with one stopword in <33 words → kept
    val (_, k2, _) = extractOne(
      "<p>prose with the function word carried along nicely here</p>")
    assert(k2 === 1L)
    // mostly anchor text → link-density gate (plain 34 chars, 26 in <a>)
    val (_, k3, _) = extractOne(
      "<p>the <a href=\"/x\">navigation chrome anchors</a> row</p>")
    assert(k3 === 0L)
    // under MinChars → length gate
    val (_, k4, _) = extractOne("<p>the tiny one</p>")
    assert(k4 === 0L)
  }

  test("q72: script and style subtrees are deleted, not extracted") {
    val (_, _, extracted) = extractOne(
      "<script>var kw = 'the spark table join';</script>" +
        "<style>p { color: the-red; }</style>" +
        "<p>the surviving paragraph has plenty of honest words</p>")
    assert(extracted === "the surviving paragraph has plenty of honest words")
    assert(!extracted.contains("spark table"))
  }

  test("q72: empty page and tag-only page extract to empty") {
    assert(extractOne("") === ((0L, 0L, "")))
    assert(extractOne("<div><br/></div><p> </p>") === ((0L, 0L, "")))
  }

  test("q73: NFKC-only cases pin against known strings") {
    // The oracle can only check NFC (DuckDB has no NFKC); these are
    // the compatibility-composition cases the hash gate can't see.
    val rows = Seq(
      // fullwidth A B C -> ASCII under NFKC only
      ("\uff21\uff22\uff23", "\uff21\uff22\uff23", "ABC"),
      // fi ligature expands under NFKC only
      ("\ufb01le", "\ufb01le", "file"),
      // decomposed e + U+0301: BOTH forms compose it
      ("cafe\u0301", "caf\u00e9", "caf\u00e9"),
      // precomposed: both invariant
      ("caf\u00e9", "caf\u00e9", "caf\u00e9"),
      // circled digit one -> '1' under NFKC only
      ("\u2460", "\u2460", "1"),
      ("", "", ""))
    rows.foreach { case (raw, nfc, nfkc) =>
      val r = Seq(raw).toDF("s")
        .select(expr("graft_nfc(s)"), expr("graft_nfkc(s)")).head()
      assert(r.getString(0) === nfc, s"NFC of ${raw.map(_.toInt)}")
      assert(r.getString(1) === nfkc, s"NFKC of ${raw.map(_.toInt)}")
    }
  }

  test("q73: interpreted eval matches codegen path; null propagates") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val inputs = Seq("café", "ＡＢ", "ﬁ", "plain", "")
    for (s <- inputs;
         form <- Seq(java.text.Normalizer.Form.NFC, java.text.Normalizer.Form.NFKC)) {
      val e = graft.functions.UnicodeNormalize(
        Literal(UTF8String.fromString(s), StringType), form)
      val interpreted = e.eval(null).asInstanceOf[UTF8String].toString
      val fn = s"graft_${form.name.toLowerCase}"
      val viaDf = Seq(s).toDF("t").select(expr(s"$fn(t)")).as[String].head()
      assert(interpreted === viaDf, s"$fn('${s.map(_.toInt)}')")
    }
    val r = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "s")
      .select(expr("graft_nfc(s)")).collect()
    assert(r.head.isNullAt(0))
  }

  test("q73: script counters agree with a JVM-side recount on the fixture suffixes") {
    import graft.queries.Q73UnicodeNormalize.RawSuffixes
    val df = RawSuffixes.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "raw")
    val counted = df.select(
      (length(col("raw")) - length(regexp_replace(col("raw"), "\\p{IsGreek}", "")))
        .cast("long").as("greek"),
      (length(col("raw")) - length(regexp_replace(col("raw"), "\\p{Mn}", "")))
        .cast("long").as("marks")).collect()
    val expected = RawSuffixes.map { s =>
      (s.count(c => Character.UnicodeScript.of(c) == Character.UnicodeScript.GREEK).toLong,
       s.count(c => Character.getType(c) == Character.NON_SPACING_MARK).toLong)
    }
    counted.zip(expected).foreach { case (r, (g, m)) =>
      assert(r.getLong(0) === g); assert(r.getLong(1) === m)
    }
  }

  test("q60b: a reflowed 40-token footer is ONE span, not 33 windows") {
    import graft.queries.Q60bLongestSharedSpans
    val footer = (1 to 40).map(i => s"f$i").mkString(" ")
    // Same 40 tokens, reflowed across lines in doc 1 — q49's line
    // hashes miss it; the span coalescer must report ONE maximal
    // island of token length 40 in each doc, with the footer text.
    val reflowed = (1 to 40).map(i => s"f$i")
      .grouped(7).map(_.mkString(" ")).mkString("\n")
    val body0 = (1 to 30).map(i => s"a$i").mkString(" ")
    val body1 = (1 to 30).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (0L, s"$body0 $footer"),
      (1L, s"$body1\n$reflowed"),
      (2L, (1 to 50).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Q60bLongestSharedSpans.longestSpans(docs).collect()
    assert(rows.length === 2, s"one span per sharing doc: ${rows.mkString(";")}")
    rows.foreach { r =>
      assert(r.getLong(1) === 31L, "span starts at token 31 in both docs")
      assert(r.getLong(2) === 40L, "coalesced to the full footer length")
      assert(r.getString(3) === footer, "span text is the footer, reflow-independent")
    }
    // intra-doc repetition alone must NOT produce a span
    val intra = Seq(
      (0L, ((1 to 10) ++ (1 to 10)).map(i => s"w$i").mkString(" ")),
      (1L, (1 to 20).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Q60bLongestSharedSpans.longestSpans(intra).count() === 0L)
  }

  test("q55b: same-session determinism; AUC floor on the held-out split") {
    import graft.queries.{Q55bTrainedClassifier, Q40TrainTestSplit}
    val a = Q55bTrainedClassifier.run(spark, sf01).collect()
    val b = Q55bTrainedClassifier.run(spark, sf01).collect()
    assert(a.toSeq === b.toSeq, "served frame must be stable within a session")
    // AUC (Mann-Whitney) of prob vs the Gopher label on q40's TEST
    // split — the model must RANK held-out verdicts, not memorize.
    // Measured 0.964 at sf0.01; floor 0.8 leaves honest headroom.
    val test = Q55bTrainedClassifier.run(spark, sf01)
      .withColumn("sp", Q40TrainTestSplit.splitColOf("doc_id"))
      .filter(col("sp") === "test")
      .select(col("prob"), col("label")).collect()
      .map(r => (r.getDouble(0), r.getBoolean(1)))
    val pos = test.filter(_._2).map(_._1)
    val neg = test.filterNot(_._2).map(_._1)
    assert(pos.nonEmpty && neg.nonEmpty, "test split must carry both classes")
    val auc = pos.iterator.map(p =>
      neg.count(_ < p) + 0.5 * neg.count(_ == p)).sum / (pos.length.toDouble * neg.length)
    assert(auc >= 0.8, s"held-out AUC $auc below floor")
  }

  test("q55b: serve path is broadcast-joined, never shuffle-joined") {
    import graft.queries.Q55bTrainedClassifier
    val weightsT = Q55bTrainedClassifier.ensureStore(spark, sf01)
    val plan = Q55bTrainedClassifier
      .serve(Tables.documents(spark, sf01), spark.table(weightsT))
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val flat = flattenPlan(plan)
    assert(flat.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "weight lookup must be a broadcast hash join")
    assert(!flat.exists(_.isInstanceOf[SortMergeJoinExec]),
      "no shuffle join anywhere in the serve path")
  }

  test("s13: killed-epoch replay after restart does NOT double-count (exactly-once injection)") {
    import graft.queries.Q65IncrementalStats
    import graft.streaming.S13StreamIncrementalStats
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("s13inject").toString
    try {
      // Three single-file waves => three epochs under maxFilesPerTrigger=1.
      val waves = Seq(
        Seq(("a1", "src_a", "one two three"), ("b1", "src_b", "four")),
        Seq(("a2", "src_a", "five six")),
        Seq(("b2", "src_b", "seven eight nine ten")))
      waves.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("doc_id", "source", "text").repartition(1)
          .write.parquet(s"$dir/delta/wave$i.parquet")
      }
      val statsT = "graft_s13inject_store"
      graft.plans.Stores.dropManaged(spark, statsT)
      Seq.empty[(String, Long, Long, Long, Long, Long)]
        .toDF("source", "n_docs", "sum_ws_tokens", "sum_chars",
          "min_chars", "max_chars")
        .write.format("parquet").saveAsTable(statsT)
      val ckpt = s"$dir/ckpt"
      def stream() = {
        val sch = spark.read.parquet(s"$dir/delta/wave0.parquet").schema
        spark.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/delta/*.parquet")
      }
      try {
        val applied = S13StreamIncrementalStats.maintain(
          spark, statsT, stream(), checkpoint = Some(ckpt))
        assert(applied === 3L, s"expected 3 applied epochs, got $applied")
        val after = spark.table(statsT)
          .filter(col("source") =!= Q65IncrementalStats.EpochKey)
          .collect().map(_.toString).sorted.toSeq

        // FAILURE INJECTION: delete the LAST epoch's commit record —
        // exactly the on-disk state of a stream killed after the sink
        // applied the batch but before the checkpoint committed. A
        // restart from this checkpoint re-delivers that epoch
        // (at-least-once); the epoch-guarded sink must skip it.
        val commits = Paths.get(ckpt, "commits")
        import scala.jdk.CollectionConverters._
        val lastCommit = Files.list(commits).iterator().asScala.toSeq
          .filter(p => p.getFileName.toString.forall(_.isDigit))
          .maxBy(_.getFileName.toString.toLong)
        Files.delete(lastCommit)
        // the local checksum FS keeps a .N.crc sibling; a crashed
        // commit would have written neither
        Files.deleteIfExists(
          commits.resolve(s".${lastCommit.getFileName}.crc"))

        val replayApplied = S13StreamIncrementalStats.maintain(
          spark, statsT, stream(), checkpoint = Some(ckpt))
        assert(replayApplied === 0L,
          s"replayed epoch must be skipped, but $replayApplied were applied")
        val afterReplay = spark.table(statsT)
          .filter(col("source") =!= Q65IncrementalStats.EpochKey)
          .collect().map(_.toString).sorted.toSeq
        assert(afterReplay === after, "store changed across a replayed epoch")

        // And the final state is the recompute — nothing lost either.
        val direct = Q65IncrementalStats.merge(Q65IncrementalStats.partials(
            spark.read.parquet(s"$dir/delta/*.parquet")))
          .collect().map(_.toString).toSeq
        val maintained = Q65IncrementalStats.merge(spark.table(statsT)
            .filter(col("source") =!= Q65IncrementalStats.EpochKey))
          .collect().map(_.toString).toSeq
        assert(maintained === direct)

        // Direct double-apply guard (the unit form of the same claim).
        val batch = spark.read.parquet(s"$dir/delta/wave1.parquet")
        assert(!Q65IncrementalStats.refreshEpoch(spark, statsT, batch, 1L),
          "epoch at or below the recorded high-water mark must be skipped")
      } finally spark.sql(s"DROP TABLE IF EXISTS $statsT")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("s15: killed-epoch replay does NOT double-append (append-model injection)") {
    import graft.queries.{Q64bBpeEncode, Q64eBpeEncodeStore}
    import graft.streaming.S15StreamBpeEncodeStore
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("s15inject").toString
    try {
      Tables.documents(spark, sf).repartition(3)
        .write.parquet(s"$dir/delta")
      val sch = spark.read.parquet(s"$dir/delta").schema
      def stream() = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/delta/*.parquet")
      val dict = broadcast(
        spark.table(Q64eBpeEncodeStore.ensureVocab(spark, sf)))
      val runT = "graft_s15inject_partials"
      graft.plans.Stores.dropManaged(spark, runT)
      Q64bBpeEncode.encodePartials(Tables.documents(spark, sf).limit(0), dict)
        .withColumn("_epoch", lit(-1L))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(runT)
      val ckpt = s"$dir/ckpt"
      try {
        val applied = S15StreamBpeEncodeStore.maintain(
          spark, runT, dict, stream(), checkpoint = Some(ckpt))
        assert(applied === 3L, s"expected 3 applied epochs, got $applied")
        val after = spark.table(runT).collect().map(_.toString).sorted.toSeq

        // Kill the last epoch's commit record: the append for that
        // epoch is on disk (its _epoch-tagged rows), the checkpoint
        // says it never ran — the replayed delivery must be
        // recognized by its own rows and skipped, not re-appended.
        import scala.jdk.CollectionConverters._
        val commits = Paths.get(ckpt, "commits")
        val lastCommit = Files.list(commits).iterator().asScala.toSeq
          .filter(p => p.getFileName.toString.forall(_.isDigit))
          .maxBy(_.getFileName.toString.toLong)
        Files.delete(lastCommit)
        Files.deleteIfExists(
          commits.resolve(s".${lastCommit.getFileName}.crc"))

        val replayApplied = S15StreamBpeEncodeStore.maintain(
          spark, runT, dict, stream(), checkpoint = Some(ckpt))
        assert(replayApplied === 0L,
          s"replayed epoch must be skipped, but $replayApplied were applied")
        val afterReplay = spark.table(runT).collect().map(_.toString).sorted.toSeq
        assert(afterReplay === after, "partials double-appended on replay")
        // and nothing lost: merged result equals the batch encode
        val got = Q64bBpeEncode.finishFertility(
            spark.table(runT).drop("_epoch"))
          .collect().map(_.toString).toSeq
        val expect = Q64eBpeEncodeStore.run(spark, sf)
          .collect().map(_.toString).toSeq
        assert(got === expect)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $runT")
        spark.sql(s"DROP TABLE IF EXISTS " +
          graft.streaming.StreamQueries.epochMarkerTable(runT))
      }
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("q72: plan is map-only — no exchange before the final sort") {
    val df = Q72HtmlExtract.run(spark, sf)
    val plan = df.queryExecution.executedPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // exactly the one range-partitioning exchange the global ORDER BY
    // needs; no aggregation/join exchange anywhere. The scale-adaptive
    // scan spread (Tables.spread) is excluded: it is load balancing
    // over the fixture's single-split file, not an operator shuffle,
    // and whether it fires depends on the fixture's file size (the
    // Aug-19 r20 regeneration shrank documents.parquet below one
    // split, arming it here).
    val shuffles = flattenPlan(plan).collect { case s: ShuffleExchangeExec
      if !isScanSpread(s) => s }
    assert(shuffles.size <= 1)
  }
}
