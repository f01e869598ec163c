package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TokenizeWords

/** Q1 — the reference's entire program as one declarative plan.
  *
  * Reference semantics (/root/reference/src/main.cpp, SURVEY §1.4):
  *  - tokenize on whitespace (main.cpp:239-242);
  *  - normalization DELETES non-letters then lowercases — "word-count"
  *    → "wordcount", "index2" → "index" (main.cpp:191-208);
  *  - empty words dropped (main.cpp:247);
  *  - a doc id appears at most once per word (main.cpp:247-249);
  *  - posting lists ascending (main.cpp:126);
  *  - global order: document-frequency desc, word asc (main.cpp:81-91).
  *
  * Tokenizing and normalization are [[TokenizeWords]]: one byte pass
  * per line with the reference's `filterWord` loop, no regex engine.
  *
  * Spark-first shape: scan→tokenize into per-task distinct (doc_id,
  * word) pairs→partial collect_set→shuffle on word→final agg. The
  * generator's per-task hash set is the reference's per-thread map
  * (main.cpp:234-258); the shuffle replaces its single-mutex pairwise
  * merge loop (main.cpp:104-138), which BASELINE.md shows collapsing
  * beyond 8 threads. At 100 TB: one wide shuffle keyed by word, no
  * driver-side state, AQE handles stragglers/skew.
  */
object InvertedIndex extends GraftQuery {
  val name = "q1_inverted_index"

  /** (doc_id, word) pairs, normalized + per-document distinct. */
  def wordDocPairs(docs: DataFrame): DataFrame = pairs(docs)
    .dropDuplicates("word", "doc_id")

  /** The distinct (doc_id, word) pairs of each task (R4–R7): the
    * combiner under Q1 and S6. Distinct per task only, so the consumer
    * dedups; `bound` is the pairs a task holds before it emits them. */
  private[graft] def pairs(docs: DataFrame,
      bound: Int = TokenizeWords.Bound): DataFrame =
    docs.select(TokenizeWords.pairs(col("doc_id"), col("text"), bound))

  /** The reference's tokenize + normalize (R4–R6): one row per
    * non-empty normalized word of `text`, in order, beside the `keep`
    * columns. Every word-level query tokenizes through here or
    * [[pairs]]. */
  private[graft] def words(docs: DataFrame, keep: String*): DataFrame =
    docs.select(keep.map(col) :+ TokenizeWords.words(col("text")): _*)

  /** One shuffle, not two: the per-document distinct (R7) is NOT a
    * separate dropDuplicates exchange. The tokenizer's per-task hash
    * set drops repeats before any row reaches the aggregate, exactly
    * the reference's local wordMap check (main.cpp:247-249);
    * collect_set drops the repeats left between tasks. */
  def index(docs: DataFrame): DataFrame =
    indexWith(docs, sort_array(collect_set(col("doc_id"))))

  /** Q1's index with `postings` (ascending, distinct doc ids) as the
    * posting-list aggregate, over [[pairs]] with the given `bound`. */
  private[graft] def indexWith(docs: DataFrame, postings: Column,
      bound: Int = TokenizeWords.Bound): DataFrame =
    pairs(docs, bound)
      .groupBy(col("word"))
      .agg(postings.as("doc_ids"))
      .select(
        col("word"),
        substring(col("word"), 1, 1).as("letter"),
        size(col("doc_ids")).cast("long").as("df"),
        col("doc_ids"))

  /** Driver-facing result: `doc_ids` rendered as a space-joined STRING
    * (the reference's own `[i1 i2 …]` body, main.cpp:164-177) — raw
    * ARRAY columns are not hashable by the correctness comparator. */
  def run(spark: SparkSession, dir: String): DataFrame =
    render(index(Tables.documents(spark, dir)))

  private[queries] def render(index: DataFrame): DataFrame = index
    .withColumn("doc_ids", array_join(col("doc_ids"), " "))
    .orderBy(col("df").desc, col("word").asc)

  val oracle = Some("""
    WITH toks AS (
      SELECT DISTINCT
        lower(regexp_replace(unnest(string_split_regex(text, '\s+')), '[^a-zA-Z]', '', 'g')) AS word,
        doc_id
      FROM documents
    )
    SELECT word,
           substring(word, 1, 1) AS letter,
           CAST(count(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id)), ' ') AS doc_ids
    FROM toks
    WHERE word <> ''
    GROUP BY word
    ORDER BY df DESC, word ASC
  """.stripMargin.trim)
}

/** Q1c — kept as a name for the Verify/oracle list: it is Q1. */
object InvertedIndexNative extends GraftQuery {
  val name = "q1c_inverted_index_native"
  def run(spark: SparkSession, dir: String): DataFrame =
    InvertedIndex.run(spark, dir)
  val oracle = InvertedIndex.oracle
}

/** Q1b — Q1 with the R11 posting-list merge as a registered typed
  * `Aggregator` udaf (graft.functions.PostingList) instead of
  * `sort_array(collect_set)`. Same oracle as Q1 — the two paths must
  * be indistinguishable to the driver. Q1 remains the hot path; this
  * exists to prove the udaf extension API. */
object InvertedIndexUdaf extends GraftQuery {
  val name = "q1b_inverted_index_udaf"
  def run(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.PostingList.register(spark)
    InvertedIndex.render(InvertedIndex.indexWith(Tables.documents(spark, dir),
      expr("graft_posting_list(doc_id)"))) // Aggregator dedups
  }
  val oracle = InvertedIndex.oracle
}
