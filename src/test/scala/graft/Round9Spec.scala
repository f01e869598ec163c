package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.queries._

/** Oracle-independent invariants for the round-9 operators: the q46b
  * gram-DF cap and the q49 cross-document paragraph filter. */
class Round9Spec extends SparkSpec {
  import spark.implicits._

  /** The q40 md5-nibble split, recomputed independently of splitCol. */
  private def splitOf(docId: Long): String = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(docId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if ("0123456789abcdef".indexOf(hex.last) < 13) "train" else "test"
  }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("r9docs").toString
    rows.map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // 8-token boilerplate → 4 distinct 5-grams, each carried by many docs
  private val boiler = "subscribe to our newsletter for daily updates now"
  private val boilerGrams = {
    val t = boiler.split(" ")
    (0 to t.length - 5).map(i => t.slice(i, i + 5).mkString(" "))
  }
  private def md5hex(s: String): String = MessageDigest.getInstance("MD5")
    .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Fixture: ten docs carry the boilerplate sentence (spanning both
    * splits), one genuine train→test leak shares a rare 7-token
    * sentence (3 distinct 5-grams, DF exactly 2). */
  private lazy val capFixture: (String, Long, Long, Seq[Long]) = {
    val ids = (1L to 40L)
    val train = ids.filter(splitOf(_) == "train")
    val test = ids.filter(splitOf(_) == "test")
    assert(train.size >= 6 && test.size >= 5, s"${train.size}/${test.size}")
    val leak = "alpha bravo charlie delta echo foxtrot golf"
    val trainLeaker = train.head
    val evalLeaked = test.head
    val chromeCarriers = (train.slice(1, 6) ++ test.slice(1, 6))
    val rows =
      Seq(trainLeaker -> s"$leak filler${trainLeaker}a filler${trainLeaker}b",
          evalLeaked -> s"$leak filler${evalLeaked}a filler${evalLeaked}b") ++
      chromeCarriers.map(id => id -> s"$boiler filler${id}a filler${id}b")
    (writeDocs(rows), trainLeaker, evalLeaked, chromeCarriers.filter(splitOf(_) == "train"))
  }

  test("q46b: the boilerplate gram key vanishes from the join input") {
    val (dir, _, _, _) = capFixture
    val bHashes = boilerGrams.map(md5hex)
    // the uncapped gram frame carries the hot key ~10 times...
    val uncapped = Q46Decontaminate.gramFrame(spark, dir)
      .filter(col("gh").isin(bHashes: _*)).count()
    assert(uncapped >= 10 * boilerGrams.size)
    // ...the capped frame has removed it from the shuffle entirely
    val capped = Q46bDecontaminateDfCap.cappedGrams(spark, dir)
      .filter(col("gh").isin(bHashes: _*)).count()
    assert(capped === 0L)
    // while DF<=cap grams (the leak sentence's) all survive
    val leakGrams = Q46bDecontaminateDfCap.cappedGrams(spark, dir).count()
    assert(leakGrams > 0)
  }

  test("q46b: cap kills the boilerplate false positives, keeps the real leak") {
    val (dir, trainLeaker, evalLeaked, trainChrome) = capFixture
    def verdicts(q: GraftQuery): Map[Long, (String, Long)] =
      q.run(spark, dir).collect()
        .map(r => r.getLong(0) ->
          ((r.getAs[String]("verdict"), r.getAs[Long]("n_shared_ngrams"))))
        .toMap
    val uncapped = verdicts(Q46Decontaminate)
    val capped = verdicts(Q46bDecontaminateDfCap)
    // uncapped: every train-side chrome carrier shares the 4
    // boilerplate grams with test-side carriers → false "contaminated"
    trainChrome.foreach { id =>
      assert(uncapped(id) === (("contaminated", 4L)), s"doc $id uncapped")
      // capped: those matches disappear completely
      assert(capped(id) === (("clean", 0L)), s"doc $id capped")
    }
    // the genuine leak survives the cap with its 3 rare grams intact
    assert(capped(trainLeaker)._1 === "contaminated")
    assert(capped(trainLeaker)._2 === 3L)
    val matched = Q46bDecontaminateDfCap.run(spark, dir)
      .filter(col("train_doc_id") === trainLeaker)
      .head().getAs[Long]("matched_eval_doc")
    assert(matched === evalLeaked)
  }

  test("q49: cross-doc shared lines counted with multiplicity, intra-doc repeats ignored") {
    // doc 1: 2 of its 4 lines are the chrome line shared with docs 2,3
    //        (multiplicity: both occurrences count) → 0.5 share
    // doc 2: 1 of its 3 lines shared → 1/3 share (above 0.3 bar)
    // doc 3: chrome + unique → 0.5
    // doc 4: a line repeated WITHIN the doc only → q47's business,
    //        not q49's: share must be 0
    val chrome = "copyright acme corp all rights reserved"
    val dir = writeDocs(Seq(
      1L -> s"$chrome\none two three\n$chrome\nfour five six",
      2L -> s"seven eight nine\n  $chrome  \nten eleven twelve",
      3L -> s"$chrome\nthirteen fourteen fifteen",
      4L -> "own line repeated\nown line repeated\nunique tail here"))
    val out = Q49CrossDocParagraphs.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_lines") === 4L)
    assert(out(1L).getAs[Long]("n_shared_lines") === 2L)
    assert(out(1L).getAs[Double]("shared_line_frac") === 0.5)
    assert(out(1L).getAs[Boolean]("is_boilerplate"))
    // trimming: doc 2's padded chrome line still matches
    assert(out(2L).getAs[Long]("n_shared_lines") === 1L)
    assert(out(2L).getAs[Boolean]("is_boilerplate"))
    assert(out(3L).getAs[Double]("shared_line_frac") === 0.5)
    // within-doc-only repetition is NOT cross-doc sharing
    assert(out(4L).getAs[Long]("n_shared_lines") === 0L)
    assert(!out(4L).getAs[Boolean]("is_boilerplate"))
  }

  test("q49 feeds q42: boilerplate-dominated docs get the new drop reason") {
    // three docs, each: one shared chrome line + one long unique line —
    // not near-dups (distinct shingles), long and clean enough to pass
    // every other gate, but 50% shared content → 'boilerplate'
    val chrome = "copyright acme corp all rights reserved"
    def uniq(i: Int) = (1 to 12).map(j => s"w${i}x$j").mkString(" ")
    val dir = writeDocs(Seq(
      1L -> s"$chrome\n${uniq(1)}",
      2L -> s"$chrome\n${uniq(2)}",
      3L -> s"$chrome\n${uniq(3)}"))
    val out = Q42CorpusClean.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(("en", "boilerplate") -> 3L))
  }

  private def writeCorpus(files: Seq[(String, String)]): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("r9corpus")
    files.foreach { case (n, content) =>
      java.nio.file.Files.write(dir.resolve(n), content.getBytes("UTF-8")) }
    java.nio.file.Files.write(dir.resolve("manifest.txt"),
      (s"${files.size}\n" + files.map(_._1).mkString("\n") + "\n")
        .getBytes("UTF-8"))
    dir
  }

  test("graft-corpus splits a dominant file into byte ranges, no line lost or duplicated") {
    // one 500-line dominant file (7-byte lines: split boundaries land
    // MID-line), plus edge files: empty, no trailing newline, CRLF,
    // and one whose line length divides the split size so boundaries
    // land exactly ON line starts
    val dominant = (0 until 500).map(i => f"d$i%05d").mkString("", "\n", "\n")
    val exact = (0 until 100).map(_ => "aaaa").mkString("", "\n", "\n")
    val dir = writeCorpus(Seq(
      "big.txt" -> dominant,
      "exact.txt" -> exact,
      "empty.txt" -> "",
      "notrail.txt" -> "x y\nlast line no newline",
      "crlf.txt" -> "one\r\ntwo\r\n"))
    val manifest = dir.resolve("manifest.txt").toString
    withConfs("spark.sql.files.maxPartitionBytes" -> "50",
        "spark.sql.files.openCostInBytes" -> "10") {
      val df = spark.read.format("graft-corpus")
        .option("manifest", manifest).load()
      // the dominant file (3500 B) must break into many ranges: far
      // more partitions than the 5 manifest files
      assert(df.rdd.getNumPartitions > 20,
        s"expected byte-range splits, got ${df.rdd.getNumPartitions}")
      val viaSplits = df.collect().map(r => (r.getLong(0), r.getString(1)))
      val expected = ManifestLines(manifest)
      // multiset equality: a lost boundary line or a double-read one
      // both break this
      assert(viaSplits.groupBy(identity).view.mapValues(_.length).toMap ===
        expected.groupBy(identity).view.mapValues(_.length).toMap)
      assert(viaSplits.length === 500 + 100 + 0 + 2 + 2)
    }
  }

  test("graft-corpus bin-packs many tiny files into few partitions") {
    val files = (0 until 40).map(i => (f"t$i%02d.txt", s"tiny file $i"))
    val dir = writeCorpus(files)
    val manifest = dir.resolve("manifest.txt").toString
    // zero open cost + large cap → split size becomes totalBytes/cores
    // and the 40 files pack into about one bin per core
    val packed = withConfs(
        "spark.sql.files.maxPartitionBytes" -> s"${10 * 1024 * 1024}",
        "spark.sql.files.openCostInBytes" -> "0") {
      val df = spark.read.format("graft-corpus")
        .option("manifest", manifest).load()
      assert(df.rdd.getNumPartitions <= 10,
        s"expected bin-packing, got ${df.rdd.getNumPartitions}")
      df.collect()
    }
    // default sizing: the 4 MB open cost dominates tiny files, and
    // totalCost/cores caps the bin at ~5 files → one bin per core,
    // never 40 single-file tasks (Spark's own file-source policy)
    val spread = spark.read.format("graft-corpus")
      .option("manifest", manifest).load()
    assert(spread.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    // packing changes scheduling only, never rows
    assert(packed.map(r => (r.getLong(0), r.getString(1))).toSet ===
      (0 until 40).map(i => ((i + 1).toLong, s"tiny file $i")).toSet)
  }

  test("golden letter files byte-match through the split-forced connector read") {
    // the full R1→R15 pipeline (index + 26-file sink) over a corpus
    // with one dominant file, read through byte-range splits: output
    // must byte-match the same index + sink over an independent
    // java.nio line split of the same files
    val words = Seq("apple", "banana", "cherry", "date", "elderberry",
      "fig", "grape", "honeydew", "kiwi", "lemon")
    val rnd = new scala.util.Random(11)
    val dominant = (0 until 400)
      .map(_ => (0 until 8).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" "))
      .mkString("", "\n", "\n")
    val dir = writeCorpus(Seq(
      "big.txt" -> dominant, "s1.txt" -> "quince apple\nmango",
      "s2.txt" -> "banana quince"))
    val manifest = dir.resolve("manifest.txt").toString
    val outSplit = java.nio.file.Files.createTempDirectory("r9split").toString
    withConfs("spark.sql.files.maxPartitionBytes" -> "256",
        "spark.sql.files.openCostInBytes" -> "16") {
      val viaSplits = spark.read.format("graft-corpus")
        .option("manifest", manifest).load()
      assert(viaSplits.rdd.getNumPartitions > 10)
      graft.sources.TextCorpus.writeLetterFiles(viaSplits, outSplit)
    }
    val outRef = java.nio.file.Files.createTempDirectory("r9ref").toString
    graft.sources.TextCorpus.writeLetterFiles(
      ManifestLines(manifest).toDF("doc_id", "text"), outRef)
    for (l <- 'a' to 'z') {
      val a = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(outSplit, s"$l.txt"))
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(outRef, s"$l.txt"))
      assert(java.util.Arrays.equals(a, b), s"letter $l differs")
    }
  }

  test("graft-corpus streaming admission control bounds each micro-batch") {
    // 7 one-line files arrive at once; maxfilespertrigger=2 must
    // drain them in ceil(7/2)=4 batches of at most 2 files each, with
    // results identical to an unbounded read
    val files = (1 to 7).map(i => (s"f$i.txt", s"line $i"))
    val dir = writeCorpus(files)
    val stream = spark.readStream.format("graft-corpus")
      .option("manifest", dir.resolve("manifest.txt").toString)
      .option("maxfilespertrigger", "2")
      .load()
    val q = stream.writeStream.format("memory")
      .queryName("r9_admission").outputMode("append").start()
    try {
      q.processAllAvailable()
      val seen = spark.table("r9_admission").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(seen === (1 to 7).map(i => (i.toLong, s"line $i")).toSet)
      // every non-empty batch admitted at most 2 files (= 2 rows here)
      val batchRows = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batchRows.nonEmpty && batchRows.forall(_ <= 2),
        batchRows.mkString(","))
      assert(batchRows.length === 4, batchRows.mkString(","))
    } finally q.stop()
  }

  test("q42b: the genuine leak drops as 'contaminated'; chrome carriers fall through") {
    val (dir, _, _, _) = capFixture
    // the ten chrome carriers are near-dups of each other (the shared
    // 8-token sentence dominates their shingles) → q18f makes nine of
    // them cluster victims; the two leak docs are below the 15-token
    // floor. That IS the plain q42 audit:
    val plain = Q42CorpusClean.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(plain === Map(
      ("en", "duplicate") -> 10L, ("en", "too_short") -> 2L))
    // full pass: the one genuine train→test leaker is re-attributed
    // from too_short to contaminated; `duplicate` still outranks
    // `contaminated` for the chrome carriers (even though uncapped
    // decontamination would have flagged them, the DF cap plus
    // precedence keeps chrome attributed to dedup, not leakage)
    val full = Q42bCorpusCleanFull.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(full === Map(
      ("en", "duplicate") -> 10L,
      ("en", "contaminated") -> 1L,
      ("en", "too_short") -> 1L))
  }

  test("q50: finds and masks emails, phones and IPv4s; clean docs untouched") {
    val dir = writeDocs(Seq(
      1L -> "contact bob.smith+x@corp.example.com or call 555-123-4567 today",
      2L -> "server at 10.0.255.3 and backup at 192.168.1.77 respond",
      3L -> "perfectly clean prose with no identifiers at all",
      // an IP must be redacted as an IP (the phone pattern must not
      // half-eat it), and a dotted 3-3-4 number is a phone
      4L -> "mix a@b.co and 212.555.0199 with 4 octets 212.55.50.199"))
    val out = Q50PiiRedact.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") === 1L)
    assert(out(1L).getAs[Long]("n_phones") === 1L)
    assert(out(1L).getAs[Long]("n_ips") === 0L)
    assert(out(1L).getAs[String]("redacted") ===
      "contact <EMAIL> or call <PHONE> today")
    assert(out(2L).getAs[Long]("n_ips") === 2L)
    assert(out(2L).getAs[String]("redacted") ===
      "server at <IP> and backup at <IP> respond")
    assert(out(3L).getAs[Long]("pii_total") === 0L)
    assert(out(3L).getAs[String]("redacted") ===
      "perfectly clean prose with no identifiers at all")
    // "212.555.0199" is 3-3-4 with dot separators → phone, not IP
    // (only 3 dotted groups); "212.55.50.199" is 4 octets → IP, and
    // the phone pattern (applied last) finds no 3-3-4 shape in it
    assert(out(4L).getAs[Long]("n_emails") === 1L)
    assert(out(4L).getAs[Long]("n_phones") === 1L)
    assert(out(4L).getAs[Long]("n_ips") === 1L)
    assert(out(4L).getAs[String]("redacted") ===
      "mix <EMAIL> and <PHONE> with 4 octets <IP>")
  }

  test("q51: URL extraction, distinct domains, blocklist verdict") {
    val dir = writeDocs(Seq(
      1L -> ("see https://good.example/a and http://good.example/b " +
        "plus https://other.example/x"),
      2L -> "links to https://spam.example/buy and https://good.example/ok",
      3L -> "no urls at all in this one",
      4L -> "UPPER https://SPAM.example/SHOUTY is still blocked"))
    val out = Q51UrlDomains.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_urls") === 3L)
    assert(out(1L).getAs[Long]("n_domains") === 2L)
    assert(out(1L).getAs[Long]("n_blocked") === 0L)
    assert(out(1L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Long]("n_blocked") === 1L)
    assert(!out(2L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Long]("n_urls") === 0L && out(3L).getAs[Boolean]("keep"))
    // domain matching is case-insensitive (lowered before the list hit)
    assert(out(4L).getAs[Long]("n_blocked") === 1L && !out(4L).getAs[Boolean]("keep"))
  }

  test("q52: any stride-aligned prefix holds sources in exact weight proportion") {
    val out = Q52MixInterleave.run(spark, sf).collect()
    // weights derive from src#: (# % 3) + 1
    def weightOf(src: String) = (src.drop(3).toInt % 3) + 1
    out.foreach(r => assert(
      r.getAs[Int]("weight") === weightOf(r.getAs[String]("source"))))
    // per source the emitted subsequence stays in doc_id order
    out.groupBy(_.getAs[String]("source")).values.foreach { rows =>
      val ids = rows.sortBy(_.getAs[Long]("rn")).map(_.getAs[Long]("doc_id"))
      assert(ids === ids.sorted)
    }
    // the defining stride property: within sort_key <= 12 (two full
    // LCM rounds), a weight-3 source has emitted exactly 6 docs, a
    // weight-2 source 4, a weight-1 source 2 — 3:2:1, no drift
    val prefix = out.filter(_.getAs[Long]("sort_key") <= 12L)
      .groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    prefix.foreach { case (src, n) =>
      assert(n === 2 * weightOf(src), s"$src emitted $n in 2 rounds")
    }
    // and the order is the total ORDER BY it claims to be
    val keys = out.map(r => (r.getAs[Long]("sort_key"),
      r.getAs[String]("source"), r.getAs[Long]("doc_id")))
    assert(keys.toSeq === keys.toSeq.sorted)
  }

  test("q53: entropy separates degenerate repetition from diverse text") {
    val dir = writeDocs(Seq(
      1L -> "same same same same",          // one type: entropy 0
      2L -> "alpha bravo charlie delta",    // uniform: entropy ln(4)
      3L -> "twin twin other other"))       // two types evenly: ln(2)
    val out = Q53TokenEntropy.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_tokens") === 4L)
    assert(out(1L).getAs[Long]("n_types") === 1L)
    assert(out(1L).getAs[Double]("entropy") === 0.0)
    assert(out(1L).getAs[Double]("ttr") === 0.25)
    assert(out(2L).getAs[Double]("entropy") === math.rint(math.log(4) * 1e4) / 1e4)
    assert(out(2L).getAs[Double]("ttr") === 1.0)
    assert(out(3L).getAs[Double]("entropy") === math.rint(math.log(2) * 1e4) / 1e4)
  }

  test("q50/q51 stay map-only; q52 plans one partition-local window, no join") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def plan(q: GraftQuery) = q.run(spark, sf).queryExecution.executedPlan
    // per-row regex passes must never grow a join or aggregate — at
    // 100 TB they are the cheap full-scan passes of the pipeline
    Seq(plan(Q50PiiRedact), plan(Q51UrlDomains)).map(_.toString).foreach { p =>
      assert(!p.contains("Join"), p.linesIterator.take(8).mkString("\n"))
      assert(!p.contains("HashAggregate"))
    }
    val p52 = plan(Q52MixInterleave)
    assert(!p52.toString.contains("Join"))
    // exactly one OPERATOR shuffle besides the final range sort: the
    // source-partitioned window. The scale-adaptive scan spread
    // (Tables.spread) is not an operator shuffle and whether it fires
    // tracks the fixture's file size (armed by the Aug-19 r20 fixture
    // regeneration) — count only exchanges the QUERY requires.
    assert(p52.toString.contains("Window"))
    val opShuffles = flattenPlan(p52).collect {
      case s: ShuffleExchangeExec
        if s.outputPartitioning.isInstanceOf[HashPartitioning] &&
          !isScanSpread(s) => s }
    assert(opShuffles.size === 1, p52)
  }

  test("q49 flags real cross-doc duplicate lines at sf0.1") {
    // the sf0.1 corpus genuinely contains duplicate single-line docs —
    // the flag must fire there without a synthetic fixture
    val out = Q49CrossDocParagraphs.run(spark, "/root/testdata/sf0.1")
    assert(out.filter(col("is_boilerplate")).count() > 0)
  }
}
