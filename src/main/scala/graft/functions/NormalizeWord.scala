package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** R5 (the reference's `filterWord`, main.cpp:191-208) as a native
  * Catalyst expression WITH whole-stage codegen: keep `[A-Za-z]`,
  * lowercase, delete everything else — one byte-loop over the
  * UTF8String, no regex engine, no UDF serialization boundary.
  *
  * This is the pack's only word normalizer: Q1 (the reference job),
  * S6 and every word-level query use it, through [[NormalizeWord.of]]
  * on Columns (mostly via `InvertedIndex.words`) and as
  * `graft_normalize_fast` inside SQL lambdas. It replaced
  * `lower(regexp_replace(tok, '[^a-zA-Z]', ''))`, which gives the same
  * strings but runs a regex per token: on the reference job
  * (perfbench `cli_index`, 4-core VM) the scan → split → normalize
  * stage took 1026 ms of executor time with the regex and 345 ms with
  * this loop. Only the DuckDB oracle SQL keeps the regex, as the
  * independent spec. ASCII-only by construction:
  * non-ASCII bytes (0x80+) are deleted like any other non-letter,
  * matching the reference's `isalpha` on signed chars, and invalid
  * UTF-8 needs no decoding.
  */
case class NormalizeWord(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_normalize_fast requires STRING, got ${child.dataType.sql}")
  override def prettyName: String = "graft_normalize_fast"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].getBytes
    val out = new Array[Byte](s.length)
    var i = 0; var n = 0
    while (i < s.length) {
      val b = s(i)
      if (b >= 'a' && b <= 'z') { out(n) = b; n += 1 }
      else if (b >= 'A' && b <= 'Z') { out(n) = (b + 32).toByte; n += 1 }
      i += 1
    }
    UTF8String.fromBytes(out, 0, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val b = ctx.freshName("b")
      s"""
         |byte[] $bytes = $c.getBytes();
         |byte[] $out = new byte[$bytes.length];
         |int $n = 0;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  byte $b = $bytes[$i];
         |  if ($b >= 'a' && $b <= 'z') { $out[$n++] = $b; }
         |  else if ($b >= 'A' && $b <= 'Z') { $out[$n++] = (byte)($b + 32); }
         |}
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromBytes($out, 0, $n);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NormalizeWord =
    copy(child = newChild)
}

object NormalizeWord {
  /** The normalizer as a Column, built from the expression itself: no
    * function-registry lookup, so a session without [[GraftExtensions]]
    * (an embedding app's, which `Cli` leaves untouched) runs it too. */
  def of(c: Column): Column = org.apache.spark.sql.GraftColumns.column(
    NormalizeWord(org.apache.spark.sql.classic.ColumnConversions.expression(c)))
}

/** Session extension registering the native function (b-tier) and the
  * Levenshtein-threshold optimizer rule (c-tier) — usable via
  * `spark.sql.extensions=graft.functions.GraftExtensions` or
  * `builder.withExtensions(new GraftExtensions)` (Engine does the
  * latter). Public API only: SparkSessionExtensions.injectFunction /
  * injectOptimizerRule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  /** Builders receive whatever argument list the parser produced, so
    * each one must enforce its own arity: `children.head` on zero args
    * is a raw IOOBE and extra args would be silently dropped. Wrong
    * arity fails analysis with Spark's own WRONG_NUM_ARGS condition,
    * same as a built-in. */
  private def exact(name: String, n: Int)(children: Seq[Expression]): Unit =
    if (children.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        Map("functionName" -> s"`$name`", "expectedNum" -> n.toString,
          "actualNum" -> children.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_normalize_fast"),
      new ExpressionInfo(classOf[NormalizeWord].getName, "graft_normalize_fast"),
      (children: Seq[Expression]) => {
        exact("graft_normalize_fast", 1)(children)
        NormalizeWord(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_token_score"),
      new ExpressionInfo(classOf[HashedTokenScore].getName, "graft_token_score"),
      (children: Seq[Expression]) => {
        exact("graft_token_score", 1)(children)
        HashedTokenScore(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        exact("graft_dot", 2)(children)
        ArrayDotProduct(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => {
        exact("graft_nfc", 1)(children)
        UnicodeNormalize(children.head, java.text.Normalizer.Form.NFC)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfkc"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_nfkc"),
      (children: Seq[Expression]) => {
        exact("graft_nfkc", 1)(children)
        UnicodeNormalize(children.head, java.text.Normalizer.Form.NFKC)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_first_pair"),
      new ExpressionInfo(classOf[FirstSharedBandPair].getName, "graft_first_pair"),
      (children: Seq[Expression]) => {
        exact("graft_first_pair", 3)(children)
        FirstSharedBandPair(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_asof_le"),
      new ExpressionInfo(classOf[graft.plans.AsofLessEqual].getName, "graft_asof_le"),
      (children: Seq[Expression]) => {
        exact("graft_asof_le", 2)(children)
        graft.plans.AsofLessEqual(children(0), children(1))
      }))
    // Spark's own bloom-filter expressions (the runtime-filter
    // machinery's internals, public classes but not registered as SQL
    // functions) surfaced as first-class functions — the membership
    // SKETCH a 100 TB decontamination prefilter needs (q46c):
    // graft_bloom_agg(xxhash64-long[, estItems[, numBits]]) -> binary,
    // graft_bloom_contains(binary-or-scalar-subquery, long) -> boolean.
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, n) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
        case Seq(c, n, b) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
        case _ =>
          exact("graft_bloom_agg", 1)(children); null // unreachable
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        exact("graft_bloom_contains", 2)(children)
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      }))
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinThresholdRule)
    ext.injectOptimizerRule(_ => graft.plans.AsofJoinRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}
