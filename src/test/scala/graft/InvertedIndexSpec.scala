package graft

import graft.queries.InvertedIndex
import graft.sources.TextCorpus
import org.apache.spark.sql.Row

/** SURVEY §1.4 fine print — the reference's correctness contract. */
class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(rows: (Long, String)*) = {
    val df = rows.toDF("doc_id", "text")
    InvertedIndex.wordDocPairs(df)
      .as[(Long, String)].collect().toSet
  }

  test("normalization deletes non-letters (does not split) and lowercases") {
    // "word-count" -> "wordcount" (ONE token), "index2" -> "index",
    // "HeLLo" -> "hello"  (main.cpp:191-208)
    assert(pairs((1L, "word-count index2 HeLLo")) ===
      Set((1L, "wordcount"), (1L, "index"), (1L, "hello")))
  }

  test("all-digit / all-punct tokens vanish; empty text yields nothing") {
    assert(pairs((1L, "123 ?!? ,,,")) === Set.empty)
    assert(pairs((1L, "   ")) === Set.empty)
  }

  test("distinct per document: repeated word recorded once") {
    assert(pairs((1L, "dup dup DUP dup.")) === Set((1L, "dup")))
  }

  test("posting lists ascending; df desc then word asc ordering") {
    val df = Seq(
      (3L, "zz aa"), (1L, "aa bb"), (2L, "aa zz")
    ).toDF("doc_id", "text")
    val out = InvertedIndex.index(df)
      .orderBy($"df".desc, $"word".asc).collect()
    // aa in 1,2,3 (df=3); bb in 1; zz in 2,3
    assert(out.map(r => (r.getString(0), r.getLong(2))).toSeq ===
      Seq(("aa", 3L), ("zz", 2L), ("bb", 1L)))
    out.foreach { r =>
      val ids = r.getSeq[Long](3)
      assert(ids === ids.sorted, s"posting list not ascending: $r")
    }
  }

  test("letter column is the first letter; flagship runs on fixtures") {
    val out = InvertedIndex.run(spark, sf)
    assert(out.count() > 0)
    assert(out.collect().forall(r =>
      r.getString(1) == r.getString(0).substring(0, 1)))
  }

  test("reference text sink format word:[i1 i2 ...]") {
    val df = Seq((1L, "apple"), (2L, "apple banana")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("ii_sink")
    TextCorpus.writeLetterFiles(df, tmp.toString)
    def letter(c: Char) = new String(
      java.nio.file.Files.readAllBytes(tmp.resolve(s"$c.txt")), "UTF-8")
    assert(letter('a') === "apple:[1 2]\n")
    assert(letter('b') === "banana:[2]\n")
    for (c <- 'c' to 'z') assert(letter(c) === "", s"$c.txt not empty")
  }
}
