package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

/** The engine's user-extension surface (SURVEY §2.B end): a typed
  * `Aggregator` for the reference's posting-list merge (R11,
  * main.cpp:119-128 — concat + sort, dedup guaranteed upstream by the
  * per-file distinct R7), registrable as a `udaf` (q1b). There is no
  * scalar normalizer udf: every query normalizes words with the codegen
  * [[NormalizeWord]] expression.
  *
  * Q1's posting list stays on built-in Catalyst expressions
  * (`sort_array(collect_set)` — see InvertedIndex); this udaf is q1b's,
  * and RelationalSpec pins the two paths to identical results.
  * The buffer is a kryo-encoded mutable HashSet (see PostingListAgg's
  * own doc) — partial aggregates on the shuffle wire carry distinct
  * ids only, the same map-side-combine shape the reference hand-codes
  * with per-thread maps (main.cpp:234-258).
  */
object PostingList {

  /** Merge doc ids into an ascending, distinct posting list.
    *
    * Buffer = hash set (kryo-encoded): O(1) amortized insert and
    * union. A sorted-sequence buffer would pay O(n) per insert —
    * O(n²) for a hot word — which is the same class of flaw as the
    * reference's sort-after-every-merge (main.cpp:126). The single
    * O(n log n) sort happens once per group, in finish. */
  object PostingListAgg
      extends Aggregator[Long, scala.collection.mutable.HashSet[Long], Seq[Long]] {
    type Buf = scala.collection.mutable.HashSet[Long]
    def zero: Buf = scala.collection.mutable.HashSet.empty[Long]
    def reduce(b: Buf, a: Long): Buf = { b += a; b }
    def merge(b1: Buf, b2: Buf): Buf =
      if (b1.size >= b2.size) { b1 ++= b2; b1 } else { b2 ++= b1; b2 }
    def finish(r: Buf): Seq[Long] = r.toSeq.sorted
    def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Register `graft_posting_list` (udaf) on a session, usable from
    * spark.sql(...). */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("graft_posting_list",
      org.apache.spark.sql.functions.udaf(PostingListAgg))
  }
}
