package graft

import org.apache.spark.sql.functions._

import graft.functions.NormalizeWord

/** The native codegen normalizer must be indistinguishable from the
  * regex it replaced (and the reference's filterWord semantics, §1.4),
  * and it must be what Q1 and S6 actually run. */
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
      assert(exprs.exists(_.isInstanceOf[NormalizeWord]), s"$name: no NormalizeWord")
      assert(!exprs.exists(_.isInstanceOf[RegExpReplace]), s"$name: regex in plan")
    }
    assert(queries.InvertedIndex.index(docs).select("word").as[String]
      .collect().sorted.toSeq === Seq("index", "wordcount"))
  }
}
