package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The reference's tokenizer (R4–R7, main.cpp:239-249) as one Catalyst
  * generator: a single byte pass over `text` that splits on the six
  * bytes Java's `\s` matches (`[ \t\n\x0B\f\r]`, so exactly where a
  * split on `\s+` cuts), normalizes each token in place with
  * [[NormalizeWord.letters]] and drops empty words. No regex, no
  * per-token array, no decode: non-ASCII and invalid UTF-8 bytes are
  * never whitespace, so they stay inside their token and the
  * normalizer deletes them.
  *
  * Two modes:
  *  - `docId = None` — every word, in order, one row (`word`) each:
  *  [[TokenizeWords.words]], under `InvertedIndex.words`.
  *  - `docId = Some(id)` — the distinct (`doc_id`, `word`) pairs of
  *  each task, the reference's per-mapper `wordMap` check
  *  (main.cpp:247-249): [[TokenizeWords.pairs]], under Q1 and S6. A
  *  pair is emitted the first time the task sees it, but not at once:
  *  pairs wait in a hash set that is emitted, and emptied, whenever it
  *  holds `bound` pairs and once more from `terminate()` at the end of
  *  the task. The map side then hands the posting-list aggregate one
  *  row per pair instead of one per token; its partial `collect_set`
  *  runs in `ObjectHashAggregateExec`, which sorts its input once a
  *  task holds more than 128 keys, so the sort shrinks with the rows.
  *  A pair can still come out more than once — from two tasks reading
  *  byte ranges of one file, or from both sides of a flush — so the
  *  consumer must dedup (`collect_set`, `dropDuplicates`).
  *
  * Why per-task state is safe: each task attempt deserializes its own
  * copy of the plan, so no two tasks share an instance or its set;
  * `GenerateExec` calls `terminate()` once after each partition's last
  * row, which empties the set, so nothing is lost and nothing carries
  * into a later partition; a retried or speculative attempt starts
  * from an empty set, and the duplicate pairs it may add are absorbed
  * by the consumer's dedup like any other repeat. `terminate()` is
  * only called by the interpreted `GenerateExec`, hence
  * `CodegenFallback`.
  *
  * Why `deterministic` stays true (the default, from the children):
  * for a given input, the SET of pairs emitted is always the set of
  * pairs in that input; the state only decides how often a pair
  * repeats, which no consumer may observe. A retried task reads the
  * same rows in the same order and emits the same rows again.
  * Declaring it nondeterministic would only restrict how the optimizer
  * may move work around it, for nothing a consumer can see.
  */
case class TokenizeWords(
    text: Expression,
    docId: Option[Expression] = None,
    private[graft] val bound: Int = TokenizeWords.Bound)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = text +: docId.toSeq
  override def prettyName: String = "graft_tokenize_words"

  override def checkInputDataTypes(): TypeCheckResult =
    if (text.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_tokenize_words requires STRING text, got ${text.dataType.sql}")

  override def elementSchema: StructType = {
    val word = new StructType().add("word", StringType, nullable = false)
    docId.fold(word)(id => new StructType().add("doc_id", id.dataType, id.nullable)
      .add(word.head))
  }

  /** The current task's pairs not yet emitted (pair mode only). */
  @transient private var seen: java.util.HashSet[TokenizeWords.Pair] = _
  @transient private lazy val out = new GenericInternalRow(elementSchema.length)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = text.eval(input).asInstanceOf[UTF8String]
    if (s == null) Iterator.empty
    else docId match {
      case None => new TokenizeWords.Words(s).map { w => out.update(0, w); out }
      case Some(id) => pairsOf(InternalRow.copyValue(id.eval(input)), s)
    }
  }

  private def pairsOf(id: Any, s: UTF8String): Iterator[InternalRow] = {
    if (seen == null) seen = new java.util.HashSet[TokenizeWords.Pair]
    val words = new TokenizeWords.Words(s)
    var full: Iterator[InternalRow] = Iterator.empty
    new Iterator[InternalRow] {
      def hasNext: Boolean = {
        while (!full.hasNext && words.hasNext)
          if (seen.add(new TokenizeWords.Pair(id, words.next())) && seen.size >= bound)
            full = drain()
        full.hasNext
      }
      def next(): InternalRow = { hasNext; full.next() }
    }
  }

  /** Emits the held pairs and starts an empty set. */
  private def drain(): Iterator[InternalRow] = {
    val held = seen
    seen = new java.util.HashSet[TokenizeWords.Pair]
    held.iterator.asScala.map { p => out.update(0, p.id); out.update(1, p.word); out }
  }

  override def terminate(): IterableOnce[InternalRow] =
    if (seen == null) Iterator.empty else drain()

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TokenizeWords =
    copy(text = newChildren.head, docId = newChildren.lift(1))
}

object TokenizeWords {
  /** Pairs a task holds before it emits them. A held pair is a `Pair`,
    * a UTF8String, its bytes and a hash node, ~120 bytes with compressed
    * oops, so ~8 MB per running task. The 4 map tasks of perfbench's
    * `cli_index` corpus hold 29k–46k pairs each (119k–258k tokens). */
  private[graft] val Bound = 1 << 16

  /** One row (`word`) per non-empty normalized word of `text`, in
    * order. Built from the expression itself, like [[NormalizeWord.of]],
    * so a session without [[GraftExtensions]] runs it too. */
  def words(text: Column): Column = column(TokenizeWords(expression(text)))

  /** The distinct (`doc_id`, `word`) pairs of each task, held `bound`
    * at a time: per task, not global, so dedup downstream. */
  private[graft] def pairs(docId: Column, text: Column, bound: Int): Column =
    column(TokenizeWords(expression(text), Some(expression(docId)), bound))

  private def column(e: Expression): Column = org.apache.spark.sql.GraftColumns.column(e)
  private def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnConversions.expression(c)

  /** A held pair; the id is a copy, the word owns its bytes, so neither
    * points into the input row. */
  private final class Pair(val id: Any, val word: UTF8String) {
    override def hashCode: Int = 31 * id.## + word.hashCode
    override def equals(o: Any): Boolean = o match {
      case p: Pair => id == p.id && word == p.word
      case _ => false
    }
  }

  /** The non-empty normalized words of `s`, read in place. */
  private final class Words(s: UTF8String) extends Iterator[UTF8String] {
    private val base = s.getBaseObject
    private val offset = s.getBaseOffset
    private val len = s.numBytes
    private var i = 0
    private var word: UTF8String = null

    /** Java's `\s`: space, `\t`, `\n`, `\x0B`, `\f`, `\r`. */
    private def space(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

    def hasNext: Boolean = {
      while (word == null && i < len) {
        while (i < len && space(Platform.getByte(base, offset + i))) i += 1
        val start = i
        while (i < len && !space(Platform.getByte(base, offset + i))) i += 1
        if (i > start) {
          val w = NormalizeWord.letters(base, offset + start, i - start)
          if (w.numBytes > 0) word = w
        }
      }
      word != null
    }

    def next(): UTF8String = {
      if (!hasNext) throw new NoSuchElementException
      val w = word
      word = null
      w
    }
  }
}
