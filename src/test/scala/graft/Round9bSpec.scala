package graft

import org.apache.spark.sql.functions._

import graft.queries._
import graft.streaming.S11StreamCuration

/** Oracle-independent invariants for the round-9 scoring/streaming
  * additions: the native hashed-classifier expression (q55), the
  * bigram-LM perplexity scorer (q54), and ingest-time curation (s11).
  */
class Round9bSpec extends SparkSpec {
  import spark.implicits._

  // ---- q55 / graft_token_score -------------------------------------

  /** The HOF pipeline graft_token_score collapses into one byte pass:
    * split → normalize → filter → per-token char fold → weight → sum.
    * Materializes every intermediate array, so it is the semantic
    * reference, not the production path. */
  private val hofToks =
    "filter(transform(split(text, '\\\\s+'), t_ -> graft_normalize_fast(t_)), x_ -> x_ != '')"
  private val hofScore =
    s"aggregate(transform($hofToks, t_ -> " +
      "((aggregate(transform(filter(split(t_, ''), c_ -> c_ != ''), " +
      "c_ -> cast(ascii(c_) as bigint)), cast(0 as bigint), " +
      "(a_, x_) -> (a_ * 31 + x_) % 1000003) * 2654435761) % 1001) - 500), " +
      "cast(0 as bigint), (a_, x_) -> a_ + x_)"

  private val edgeInputs = Seq(
    "", "   ", "a", "A", "hello world", "Hello,  WORLD!!", "123 456",
    "a1b2c3 d", "tab\tsep\nlines\r\nmixed", "vt split",
    "ünïcödé tökens", "trailing space ", " leading", "multi   space",
    "punct-only ?!? .,;", "CamelCase MIXEDcase lowercase")

  test("q55: native expression == HOF reference on edge inputs") {
    val out = edgeInputs.toDF("text").select(
      expr("graft_token_score(text).score_num").as("native_s"),
      expr("graft_token_score(text).n_toks").as("native_n"),
      expr(hofScore).as("hof_s"),
      expr(s"cast(size($hofToks) as bigint)").as("hof_n"),
      col("text")).collect()
    out.foreach { r =>
      assert(r.getLong(0) === r.getLong(2), s"score for '${r.getString(4)}'")
      assert(r.getLong(1) === r.getLong(3), s"n_toks for '${r.getString(4)}'")
    }
  }

  test("q55: native expression == HOF reference on the sf0.001 corpus") {
    val diff = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(
        expr("graft_token_score(text)").as("r"),
        expr(hofScore).as("hof_s"),
        expr(s"cast(size($hofToks) as bigint)").as("hof_n"))
      .filter(col("r.score_num") =!= col("hof_s") ||
        col("r.n_toks") =!= col("hof_n"))
      .count()
    assert(diff === 0L)
  }

  test("q55: interpreted eval matches the codegen path; null propagates") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.InternalRow
    edgeInputs.foreach { s =>
      val e = graft.functions.HashedTokenScore(
        Literal(UTF8String.fromString(s), org.apache.spark.sql.types.StringType))
      val row = e.eval(null).asInstanceOf[InternalRow]
      val viaDf = Seq(s).toDF("text")
        .select(expr("graft_token_score(text).score_num"),
          expr("graft_token_score(text).n_toks"))
        .as[(Long, Long)].head()
      assert((row.getLong(0), row.getLong(1)) === viaDf, s"input '$s'")
    }
    val r = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "text")
      .select(expr("graft_token_score(text)")).collect()
    assert(r.head.isNullAt(0))
  }

  test("q55: plan is map-only — no join, no aggregate, native expr present") {
    val plan = Q55ClassifierScore.run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("HashAggregate"), plan.linesIterator.take(5).mkString("\n"))
    assert(plan.contains("graft_token_score"))
  }

  test("q55: keep verdict is decided by the integer numerator") {
    val out = Q55ClassifierScore.run(spark, "/root/testdata/sf0.001")
      .select(col("score_num"), col("keep")).collect()
    out.foreach(r => assert(r.getBoolean(1) === (r.getLong(0) >= 0)))
  }

  // ---- q54 LM perplexity -------------------------------------------

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("r9bdocs").toString
    rows.map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q54: hand-computed single-doc corpus") {
    // "x y x y": bigrams (x,y)(y,x)(x,y); V=2; c2(x,y)=2, c2(y,x)=1,
    // c1(x)=2, c1(y)=1 → p(x,y)=(2+1)/(2+2), p(y,x)=(1+1)/(1+2)
    val dir = writeDocs(Seq(1L -> "x y x y"))
    val r = Q54LmPerplexity.run(spark, dir).collect()
    assert(r.length === 1)
    val expectedNll = -(2 * math.log(3.0 / 4) + math.log(2.0 / 3)) / 3
    assert(r.head.getLong(1) === 3L) // n_bigrams
    assert(r.head.getDouble(2) === round4(expectedNll))
    assert(r.head.getDouble(3) === round4(math.exp(expectedNll)))
  }

  test("q54: corpus-frequent transitions score lower than singletons") {
    // Five copies of the same sentence train the LM to expect those
    // transitions; the sixth doc's bigrams are all corpus-singletons.
    val common = "the cat sat on the mat"
    val docs = (1L to 5L).map(i => i -> common) :+
      (6L -> "zq wv xk yj pn rm")
    val dir = writeDocs(docs)
    val ppl = Q54LmPerplexity.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ppl(1L) === ppl(5L)) // identical docs, identical score
    assert(ppl(1L) < ppl(6L), s"common=${ppl(1L)} rare=${ppl(6L)}")
  }

  test("q54: docs with fewer than two tokens are absent, not crashed") {
    val dir = writeDocs(Seq(1L -> "only", 2L -> "", 3L -> "two words"))
    val ids = Q54LmPerplexity.run(spark, dir).collect().map(_.getLong(0)).toSet
    assert(ids === Set(3L))
  }

  test("q54: one corpus scan feeds the LM — dc's exchange is reused, not recomputed") {
    // c2 and c1 derive from the per-doc counts frame (rollup of a
    // rollup); the only other corpus scan is the vocabulary scalar.
    // Without the derivation the explode pipeline runs 3x.
    val df = Q54LmPerplexity.run(spark, "/root/testdata/sf0.001")
    df.collect()
    // count scans in the FINAL adaptive plan only (toString appends
    // the initial plan, which double-counts every leaf)
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"expected <=2 corpus scans, saw $scans")
    assert(plan.contains("ReusedExchange"), "dbg's shuffle must be reused")
  }

  test("q54: vocabulary frame is broadcast, not shuffled in") {
    val plan = Q54LmPerplexity.run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), "1-row vocab should broadcast")
  }

  // ---- q56 context-window chunking ---------------------------------

  test("q56: chunks tile every document — coverage, overlap, reconstruction") {
    val out = Q56ChunkWindows.run(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("chunk_tokens"), col("chunk_text"), col("n_tokens"))
      .collect()
      .groupBy(_.getLong(0))
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), expr(graft.queries.NorthStar.toksExpr).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out.nonEmpty)
    out.foreach { case (docId, chunks) =>
      val toks = docs(docId)
      val sorted = chunks.sortBy(_.getInt(1))
      // chunk ids are dense from 0; strides are 24; windows are 32
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.getInt(1) === i)
        assert(c.getInt(2) === i * 24 + 1)
        val expect = toks.slice(i * 24, math.min(i * 24 + 32, toks.length))
        assert(c.getString(4) === expect.mkString(" "), s"doc $docId chunk $i")
        assert(c.getInt(3) === expect.length)
      }
      // full coverage: last chunk reaches the final token; no empty chunk
      val last = sorted.last
      assert(last.getInt(2) + last.getInt(3) - 1 === toks.length)
      assert(sorted.forall(_.getInt(3) > 0))
      assert(last.getInt(5) === toks.length)
    }
  }

  // ---- q57 delta dedup ----------------------------------------------

  test("q57: exact copy, near copy, and novel doc get the right verdicts") {
    import java.security.MessageDigest
    def splitOf(docId: Long): String = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(docId.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if ("0123456789abcdef".indexOf(hex.last) < 13) "train" else "test"
    }
    val ids = (1L to 60L)
    val train = ids.filter(splitOf(_) == "train")
    val test = ids.filter(splitOf(_) == "test")
    assert(train.size >= 9 && test.size >= 7)
    val base1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val base2 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val nearCopy = base2.replace("tango", "uniform") // last token: J = 16/20
    val twoTok = "lone pair"
    val twice = "red orange yellow green blue indigo violet black white grey"
    val exact = "north south east west up down left right front back"
    val tied = "ant bee cat dog eel fox gnu hen ibis jay"
    val dir = writeDocs(Seq(
      train(0) -> base1, train(1) -> base2,
      test(0) -> base1,              // exact dup of train(0)
      test(1) -> nearCopy,           // near dup of train(1)
      test(2) -> "victor whiskey xray yankee zulu one two three four five",
      // 2 tokens: no shingles, so only the exact tier can catch it
      train(2) -> twoTok, test(3) -> twoTok,
      // exact copy of two train docs: the lower base id wins
      train(4) -> twice, train(3) -> twice, test(4) -> twice,
      // exact copy of train(6), near copy of the lower train(5): exact wins
      train(5) -> exact.replace("back", "center"), train(6) -> exact,
      test(5) -> exact,
      // train(7) and train(8) differ only in whitespace, so their
      // shingles (and est_jaccard) are equal: the lower base id wins
      train(8) -> tied.replace(" ", "  "), train(7) -> tied,
      test(6) -> tied.replace("jay", "kite")))
    val rows = Q57DeltaDedup.run(spark, dir).collect().toSeq
    val out = rows
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out(test(0)) === (("exact_dup", train(0))))
    assert(out(test(1)) === (("near_dup", train(1))))
    assert(out(test(2))._1 === "new")
    assert(out(test(3)) === (("exact_dup", train(2))))
    assert(out(test(4)) === (("exact_dup", train(3))))
    assert(out(test(5)) === (("exact_dup", train(6))))
    assert(out(test(6)) === (("near_dup", train(7))))
    assert(out.size === 7) // every delta doc accounted for
    // exact verdicts carry no estimate; the near ones carry k/32
    rows.foreach { r =>
      assert(r.isNullAt(3) === (r.getString(1) != "near_dup"), r.toString)
    }
    // the store (q57b), checkpoint-stream (s12) and store-stream (s12b)
    // entries give the same rows over the same corpus
    try {
      Seq(Q57bDeltaDedupStore, graft.streaming.S12StreamDeltaDedup,
          graft.streaming.S12bStreamDeltaDedupStore).foreach { q =>
        assert(q.run(spark, dir).collect().toSeq === rows, q.name)
      }
    } finally graft.plans.Stores.evict(spark, "graft_sigstore")
  }

  // ---- q58 end-to-end assembly ---------------------------------------

  test("q58: shard ids are dense per lang and totals reconcile with the audit") {
    val dir = "/root/testdata/sf0.001"
    val shards = Q58TrainingShards.run(spark, dir).collect()
    assert(shards.nonEmpty)
    shards.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val ids = rows.map(_.getInt(1)).sorted
      assert(ids === (0 until ids.length).toArray, s"$lang shard ids not dense")
    }
    assert(shards.groupBy(_.getString(0)).exists(_._2.length >= 2),
      "fixture must be large enough that packing actually splits shards")
    // token totals = chunk totals over exactly the audit's kept docs
    val kept = Q42CorpusClean.statusByDoc(spark, dir, withContamination = true)
      .filter(col("status") === "kept").select(col("doc_id"))
    val expected = Q56ChunkWindows.run(spark, dir)
      .join(kept, Seq("doc_id"))
      .agg(sum(col("chunk_tokens"))).head().getLong(0)
    assert(shards.map(_.getLong(3)).sum === expected)
  }

  // ---- s12 streaming delta dedup -------------------------------------

  test("s12: streaming delta dedup == batch q57, row for row") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.S12StreamDeltaDedup.run(spark, dir).collect()
    val batch = Q57DeltaDedup.run(spark, dir).collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
  }

  // ---- s11 streaming curation --------------------------------------

  test("s11: final stream state equals the batch dashboard") {
    val dir = "/root/testdata/sf0.001"
    val streamed = S11StreamCuration.run(spark, dir).collect().toSeq
    val batch = S11StreamCuration.dashboard(
      S11StreamCuration.gated(Tables.documents(spark, dir)))
      .orderBy(col("source")).collect().toSeq
    assert(streamed === batch)
  }

  test("s11: the admission gate actually fires on the fixture corpus") {
    val dir = "/root/testdata/sf0.001"
    val r = S11StreamCuration.run(spark, dir)
      .agg(sum(col("n_docs")).as("d"), sum(col("n_kept")).as("k"))
      .head()
    assert(r.getLong(0) === 500L)
    assert(r.getLong(1) > 0L && r.getLong(1) < 500L,
      s"gate must split the corpus, kept=${r.getLong(1)}")
  }
}
