package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

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
  * Spark-first shape: scan→explode→project→filter→partial-distinct→
  * shuffle on word→final agg. Catalyst plans the map-side partial
  * aggregation that the reference hand-codes with per-thread maps and
  * mutexes (main.cpp:234-258); the shuffle replaces its single-mutex
  * pairwise merge loop (main.cpp:104-138), which BASELINE.md shows
  * collapsing beyond 8 threads. At 100 TB: one wide shuffle keyed by
  * word, no driver-side state, AQE handles stragglers/skew.
  */
object InvertedIndex extends GraftQuery {
  val name = "q1_inverted_index"

  /** (doc_id, word) pairs, normalized + per-document distinct. */
  def wordDocPairs(docs: DataFrame): DataFrame = rawPairs(docs)
    .dropDuplicates("word", "doc_id")

  private def rawPairs(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
    .select(col("doc_id"),
      lower(regexp_replace(col("tok"), "[^a-zA-Z]", "")).as("word"))
    .filter(col("word") =!= "")

  /** One shuffle, not two: the per-document distinct (R7) is NOT a
    * separate dropDuplicates exchange — collect_set dedups, and
    * Catalyst's map-side partial aggregation performs the dedup
    * before anything hits the wire (exactly the reference's local
    * wordMap check, main.cpp:247-249). */
  def index(docs: DataFrame): DataFrame = rawPairs(docs)
    .groupBy(col("word"))
    .agg(sort_array(collect_set(col("doc_id"))).as("doc_ids"))
    .select(
      col("word"),
      substring(col("word"), 1, 1).as("letter"),
      size(col("doc_ids")).cast("long").as("df"),
      col("doc_ids"))

  /** Driver-facing result: `doc_ids` rendered as a space-joined STRING
    * (the reference's own `[i1 i2 …]` body, main.cpp:164-177) — raw
    * ARRAY columns are not hashable by the correctness comparator. */
  def run(spark: SparkSession, dir: String): DataFrame =
    index(Tables.documents(spark, dir))
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

/** Q1c — Q1 with the normalizer as a NATIVE codegen'd Catalyst
  * expression (graft.functions.NormalizeWord, injected by
  * GraftExtensions): a byte-loop replaces the regex engine on the
  * hottest scalar of the flagship query. Same oracle as Q1; BENCH
  * compares the three normalizer tiers head-to-head
  * (expression < regexp built-in < scala udf). */
object InvertedIndexNative extends GraftQuery {
  val name = "q1c_inverted_index_native"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .select(col("doc_id"), expr("graft_normalize_fast(tok)").as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(sort_array(collect_set(col("doc_id"))).as("doc_ids"))
      .select(
        col("word"),
        substring(col("word"), 1, 1).as("letter"),
        size(col("doc_ids")).cast("long").as("df"),
        array_join(col("doc_ids"), " ").as("doc_ids"))
      .orderBy(col("df").desc, col("word").asc)
  val oracle = InvertedIndex.oracle
}

/** Q1b — Q1 through the user-extension surface instead of built-ins:
  * the R5 normalizer as a registered scalar `udf` and the R11
  * posting-list merge as a registered typed-`Aggregator` `udaf`
  * (graft.functions.PostingList). Same oracle as Q1 — the two paths
  * must be indistinguishable to the driver. The built-in Q1 remains
  * the hot path (codegen'd); this exists to prove the extension API. */
object InvertedIndexUdaf extends GraftQuery {
  val name = "q1b_inverted_index_udaf"
  def run(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.PostingList.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .select(col("doc_id"),
        graft.functions.PostingList.normalizeWord(col("tok")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(expr("graft_posting_list(doc_id)").as("doc_ids")) // Aggregator dedups
      .select(
        col("word"),
        substring(col("word"), 1, 1).as("letter"),
        size(col("doc_ids")).cast("long").as("df"),
        array_join(col("doc_ids"), " ").as("doc_ids"))
      .orderBy(col("df").desc, col("word").asc)
  }
  val oracle = InvertedIndex.oracle
}
