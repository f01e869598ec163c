package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Index of the FIRST band pair two 64-bit perceptual hashes agree
  * on, from the XOR of their 32-bit halves — the banded-store
  * candidate-dedup predicate ([[graft.multimodal.BandedHashStore]])
  * as ONE compact codegen'd node (round 19).
  *
  * Why an expression and not composed built-ins: the semantics need
  * "clean-band mask → lowest two set bits → lexicographic pair
  * index". Spelled with built-ins that is a ~30-node tree whose
  * aliases Catalyst inlines when it pushes the candidate filter into
  * the SortMergeJoin condition — measured at 100×: the inlined
  * ~500-node condition fell out of whole-stage codegen and cost
  * ~80 µs per joined row, 10 s of a 14 s store serve (HISTORY.md
  * round 19, item 1b). As a single native node the pushdown is
  * HARMLESS: wherever the optimizer moves it, it stays one ~30-op
  * branch-free-ish Java method.
  *
  * Contract: bands are big-endian in the hex hash; `bandBits` | 32
  * (4/8/16/32 — the [[graft.multimodal.Q25dImageNearDup.bandBitsFor]]
  * policy widths), so no band straddles the halves. Band i is clean
  * iff its bits of the xor are all zero. Pairs (i, j), i < j, are
  * ordered lexicographically — the store's bucket enumeration — and
  * the first pair with BOTH bands clean is (lowest clean band,
  * second-lowest clean band). Returns −1 when fewer than two bands
  * are clean (cannot happen for a genuinely bucket-colliding pair —
  * the bucket's own two bands agree — so −1 simply drops a row whose
  * bucket key collided without band agreement, which the substring
  * formulation dropped too). */
case class FirstSharedBandPair(xHi: Expression, xLo: Expression,
    bandBitsExpr: Expression) extends TernaryExpression {

  override def first: Expression = xHi
  override def second: Expression = xLo
  override def third: Expression = bandBitsExpr

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_first_pair"

  override def checkInputDataTypes(): TypeCheckResult =
    if (xHi.dataType != LongType || xLo.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (BIGINT, BIGINT, INT literal), got " +
          s"(${xHi.dataType.sql}, ${xLo.dataType.sql}, ${bandBitsExpr.dataType.sql})")
    else if (bandBitsExpr.dataType != IntegerType || !bandBitsExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName band width must be an INT literal")
    else {
      val bb = bandBitsExpr.eval(null).asInstanceOf[Int]
      if (bb > 0 && 32 % bb == 0) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName band width must divide 32, got $bb")
    }

  private lazy val bb: Int = bandBitsExpr.eval(null).asInstanceOf[Int]

  /** Shared by eval and the generated code (via static call):
    * clean-mask → first-pair index. */
  override protected def nullSafeEval(h: Any, l: Any, b: Any): Any =
    FirstSharedBandPair.firstPair(
      h.asInstanceOf[Long], l.asInstanceOf[Long], bb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l, _) => {
      s"${ev.value} = graft.functions.FirstSharedBandPair.firstPair($h, $l, $bb);"
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): FirstSharedBandPair =
    copy(xHi = newFirst, xLo = newSecond, bandBitsExpr = newThird)
}

object FirstSharedBandPair {
  /** The whole semantics in one static method callable from generated
    * Java — never inlined into an expression tree. */
  def firstPair(xHi: Long, xLo: Long, bandBits: Int): Int = {
    val nBands = 64 / bandBits
    val mask64 = (1L << bandBits) - 1
    var mask = 0
    var i = 0
    while (i < nBands) {
      val fromTop = (i + 1) * bandBits
      val v =
        if (fromTop <= 32) (xHi >>> (32 - fromTop)) & mask64
        else (xLo >>> (64 - fromTop)) & mask64
      if (v == 0L) mask |= 1 << i
      i += 1
    }
    if (Integer.bitCount(mask) < 2) -1
    else {
      val i0 = Integer.numberOfTrailingZeros(mask)
      val j0 = Integer.numberOfTrailingZeros(mask & (mask - 1))
      i0 * (nBands - 1) - i0 * (i0 - 1) / 2 + (j0 - i0 - 1)
    }
  }
}
