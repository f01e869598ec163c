package graft

import org.apache.spark.sql.functions._

import graft.functions.{NormalizeWord, TokenizeWords}
import graft.queries.InvertedIndex

/** The native codegen normalizer must be indistinguishable from the
  * regex it replaced (and the reference's filterWord semantics, §1.4);
  * the tokenizer generator must give the rows of the whitespace split
  * it replaced; and the generator is what Q1 and S6 actually run. */
class NormalizeWordSpec extends SparkSpec {
  import spark.implicits._

  private val inputs = Seq(
    "word-count", "index2", "HeLLo", "123", "?!?", "", "MiXeD42cAsE",
    "ünïcödé", "abécd", "ZZtop", "a", "Z",
    "smile😀face",    // 4-byte emoji
    "tab\there", "cr\rhere", "nb sp", // tab, CR, NBSP
    "Kelvin", "İstanbul") // Kelvin sign, dotted capital I

  /** Invalid UTF-8, made by casting binary to string: a lead byte
    * before ASCII, a lone continuation byte, a never-valid byte and a
    * truncated 4-byte sequence. */
  private val invalidUtf8 = Seq(
    Array(0xC3, 0x41), Array(0x61, 0x80, 0x62), Array(0xFF, 0x5A),
    Array(0x46, 0xF0, 0x9F, 0x98)).map(_.map(_.toByte))

  private def regex(c: org.apache.spark.sql.Column) =
    lower(regexp_replace(c, "[^a-zA-Z]", ""))

  test("native expression == lower(regexp_replace) on edge inputs") {
    val df = inputs.toDF("tok")
    val out = df.select(
      NormalizeWord.of(col("tok")).as("native"),
      expr("graft_normalize_fast(tok)").as("registered"),
      regex(col("tok")).as("regex"))
      .collect()
    out.foreach { r =>
      assert(r.getString(0) === r.getString(2), r.toString)
      assert(r.getString(1) === r.getString(2), r.toString)
    }
  }

  test("native expression == lower(regexp_replace) on invalid UTF-8") {
    val out = invalidUtf8.toDF("b")
      .select(col("b").cast("string").as("tok"))
      .select(NormalizeWord.of(col("tok")), regex(col("tok")))
      .collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "ab", "z", "f"))
    out.foreach(r => assert(r.getString(0) === r.getString(1), r.toString))
  }

  test("interpreted eval matches codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    // Without ConvertToLocalRelation the projection runs in generated
    // code instead of being folded into the local relation by eval.
    withConfs("spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") {
    (inputs.map(UTF8String.fromString) ++ invalidUtf8.map(UTF8String.fromBytes))
      .foreach { s =>
        val e = NormalizeWord(Literal(s, org.apache.spark.sql.types.StringType))
        val interpreted = e.eval(null).asInstanceOf[UTF8String].toString
        val viaDf = Seq(s.getBytes).toDF("b")
          .select(NormalizeWord.of(col("b").cast("string"))).as[String].head()
        assert(interpreted === viaDf, s"input '$s'")
      }
    }
  }

  test("null propagates") {
    val r = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "tok")
      .select(NormalizeWord.of(col("tok")), expr("graft_normalize_fast(tok)"))
      .collect()
    assert(r.head.isNullAt(0) && r.head.isNullAt(1))
  }

  test("Q1 and S6 normalize with NormalizeWord, not a regex") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpReplace}
    val docs = Seq((1L, "Word-count index2")).toDF("doc_id", "text")
    for ((name, df) <- Seq(
        "q1" -> queries.InvertedIndex.index(docs),
        "s6" -> streaming.Streams.incrementalInvertedIndex(docs))) {
      val exprs: Seq[Expression] = df.queryExecution.analyzed
        .flatMap(_.expressions.flatMap(_.collect { case e => e }))
      assert(exprs.exists(_.isInstanceOf[TokenizeWords]), s"$name: no TokenizeWords")
      assert(!exprs.exists(_.isInstanceOf[RegExpReplace]), s"$name: regex in plan")
    }
    assert(queries.InvertedIndex.index(docs).select("word").as[String]
      .collect().sorted.toSeq === Seq("index", "wordcount"))
  }

  /** Lines for the tokenizer: every whitespace byte Java's `\s`
    * matches, CR-only lines, leading/trailing/repeated whitespace, and
    * separators it does not match (NBSP, U+2003, `\x1C`–`\x1F`), which
    * must not split a token. */
  private val lines = inputs ++ Seq(
    "a b", "a\tb", "a\nb", "a\u000bb", "a\fb", "a\rb",
    "one two\rthree four\rfive", "  lead", "trail  ", "re \t\n\r\f\u000b peat  ed",
    "nb\u00a0sp", "em\u2003space", "fs\u001cgs\u001drs\u001eus\u001fend",
    "", " ", " \t\r\n\f\u000b ", "123 ?!? ,,, 4-5 ...x", "x 42 y")

  /** The same lines as raw bytes, plus invalid UTF-8 next to whitespace. */
  private def lineDocs = {
    val bytes = lines.map(_.getBytes("UTF-8")) ++ invalidUtf8 ++ Seq(
      Array(0xC3, 0x20, 0x41), Array(0xF0, 0x9F, 0x20, 0x62, 0x0A, 0x80),
      Array(0x20, 0xFF, 0x09, 0x7A, 0x0D)).map(_.map(_.toByte))
    bytes.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("doc_id", "b")
      .select(col("doc_id"), col("b").cast("string").as("text"))
  }

  test("tokenizer: every word in order, as the whitespace split gave it") {
    val docs = lineDocs
    val bySplit = docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .select(col("doc_id"), NormalizeWord.of(col("tok")).as("word"))
      .filter(col("word") =!= "")
      .as[(Long, String)].collect().toSeq
    val generated = InvertedIndex.words(docs, "doc_id").as[(Long, String)].collect().toSeq
    assert(generated === bySplit)
    val byDoc = generated.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def wordsOf(line: String) = byDoc.getOrElse(lines.indexOf(line).toLong, Nil)
    assert(wordsOf("a\u000bb") === Seq("a", "b"))
    assert(wordsOf("one two\rthree four\rfive") === Seq("one", "two", "three", "four", "five"))
    assert(wordsOf("nb\u00a0sp") === Seq("nbsp"))
    assert(wordsOf("em\u2003space") === Seq("emspace"))
    assert(wordsOf("fs\u001cgs\u001drs\u001eus\u001fend") === Seq("fsgsrsusend"))
    assert(wordsOf(" \t\r\n\f\u000b ") === Nil)
    assert(wordsOf("123 ?!? ,,, 4-5 ...x") === Seq("x"))
  }

  test("tokenizer pair mode: the distinct (doc_id, word) pairs, once each per task") {
    val docs = lineDocs.union(lineDocs.withColumn("text", upper(col("text")))).coalesce(1)
    val pairs = InvertedIndex.pairs(docs).as[(Long, String)].collect().toSeq
    val distinct = InvertedIndex.words(docs, "doc_id").distinct()
      .as[(Long, String)].collect().toSet
    assert(pairs.toSet === distinct)
    assert(pairs.size === distinct.size, "one task emitted a pair twice")
  }

  test("tokenizer pair mode: a tiny bound flushes mid-task and Q1 keeps its rows") {
    val docs = Tables.documents(spark, sf)
    val flushed = InvertedIndex.pairs(docs, bound = 3)
    assert(flushed.count() > flushed.distinct().count(), "bound 3 never flushed")
    val postings = sort_array(collect_set(col("doc_id")))
    def rows(bound: Int) = InvertedIndex.indexWith(docs, postings, bound)
      .orderBy("word").collect().toSeq
    assert(rows(3) === rows(TokenizeWords.Bound))
  }
}
