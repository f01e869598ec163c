package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform

/** `graft_minhash(sh)` — the MinHash signature of one shingle set as a
  * native Catalyst expression: one pass over `array<string>`, one md5
  * per shingle, 32 permutation minima, written straight into an
  * `UnsafeArrayData`. A signature depends on one document only, so
  * it is a projection — no explode, no aggregation, no exchange.
  *
  * It replaced two spellings of the same values: q18b's explode + 32
  * `min` aggregations behind a shuffle on `doc_id`, and s12's 32
  * interpreted `array_min(transform(...))` folds. MinHashSpec keeps
  * the old SQL as the spec (`cast(conv(substring(md5(s), 1, 15), 16,
  * 10) as bigint) % P`, then `(((A·(i+1)) % P)·h + (B·(i+1) + 7) % P)
  * % P` minimized over the shingles) and checks bit-equality, as the
  * DuckDB oracles' list folds do.
  *
  * Nulls follow the aggregation it replaced: a null shingle is
  * skipped, and a slot with no shingle to minimize over is null (SQL
  * `min` of nothing), so a null, empty or all-null array gives 32
  * nulls. The result itself is never null, as the `array(m0, …, m31)`
  * it replaced was not, so the persisted `sig` column keeps its
  * parquet type. `Q18bDedupMinHash.signatures` drops empty and null
  * arrays, as the explode did. */
case class MinHashSignature(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.sql}")
  }

  override def eval(input: InternalRow): Any =
    MinHash.sign(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} = graft.functions.MinHash.sign(${c.isNull} ? null : ${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** `graft_minhash_matches(a, b)` — how many of the first 32 slots two
  * signatures agree on, as one native node. It replaced a flat 32-term
  * `IF(element_at(a, i) = element_at(b, i), 1, 0)` chain, which
  * Catalyst pushes into the band join's condition (the `matches >= 16`
  * filter), as it did with the 64-term chain `graft_dot` replaced.
  * Same counts as the chain: a slot counts only when both elements
  * are present, non-null and equal, so a null array matches nothing. */
case class MinHashMatches(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_matches"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<BIGINT>, got ${l.sql} and ${r.sql}")
  }

  override def eval(input: InternalRow): Any = MinHash.matches(
    left.eval(input).asInstanceOf[ArrayData], right.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (l, r) = (left.genCode(ctx), right.genCode(ctx))
    ev.copy(code = code"""
      |${l.code}
      |${r.code}
      |int ${ev.value} = graft.functions.MinHash.matches(
      |  ${l.isNull} ? null : ${l.value}, ${r.isNull} ? null : ${r.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): MinHashMatches =
    copy(left = newLeft, right = newRight)
}

/** The MinHash constants and the kernel loops both expressions call
  * from interpreted and generated code alike — one copy of each loop.
  * The constants are the DuckDB oracle CTEs' literals
  * (`NorthStar.duckMinhashPairCtes`): every product stays below 2^60,
  * exact BIGINT in both engines. */
object MinHash {
  /** Permutations per signature: 8 bands × 4 rows. */
  val NumPerms = 32
  val P = 1000000007L
  val A = 2654435761L
  val B = 40503L

  private val permA = Array.tabulate(NumPerms)(i => (A * (i + 1)) % P)
  private val permB = Array.tabulate(NumPerms)(i => (B * (i + 1) + 7) % P)

  /** Per-thread md5 state and buffers: a kernel call allocates only
    * its output array. */
  private final class Scratch {
    val md5: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    val mins = new Array[Long](NumPerms)
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** The signature of shingle array `sh`, which may be null (see
    * [[MinHashSignature]]). */
  def sign(sh: ArrayData): ArrayData = {
    val s = scratch.get()
    val mins = s.mins
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    var i = 0
    val n = if (sh == null) 0 else sh.numElements()
    while (i < n) {
      if (!sh.isNullAt(i)) {
        seen = true
        val h = shingleHash(s, sh.getUTF8String(i))
        var k = 0
        while (k < NumPerms) {
          val v = (permA(k) * h + permB(k)) % P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    val out = UnsafeArrayData.createFreshArray(NumPerms, 8)
    var k = 0
    while (k < NumPerms) {
      if (seen) out.setLong(k, mins(k)) else out.setNullAt(k)
      k += 1
    }
    out
  }

  /** The first 60 bits of md5(utf8 bytes), mod P: the value
    * `conv(substring(md5(s), 1, 15), 16, 10) % P` gives. */
  private def shingleHash(s: Scratch, u: org.apache.spark.unsafe.types.UTF8String): Long = {
    u.getBaseObject match {
      case bytes: Array[Byte] =>
        s.md5.update(bytes, (u.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, u.numBytes)
      case _ => s.md5.update(u.getBytes)
    }
    s.md5.digest(s.digest, 0, 16)
    var x = 0L
    var j = 0
    while (j < 8) { x = (x << 8) | (s.digest(j) & 0xffL); j += 1 }
    (x >>> 4) % P
  }

  /** Slots among the first [[NumPerms]] where `a` and `b` hold equal
    * non-null values; 0 when either is null. */
  def matches(a: ArrayData, b: ArrayData): Int =
    if (a == null || b == null) 0
    else {
      val n = math.min(NumPerms, math.min(a.numElements(), b.numElements()))
      var c = 0
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
        i += 1
      }
      c
    }

  /** The signature Column of an `array<string>` shingle Column. */
  def signature(sh: Column): Column = GraftColumns.column(MinHashSignature(expression(sh)))

  /** Matching-slot count Column of two signature Columns. */
  def matchCount(a: Column, b: Column): Column =
    GraftColumns.column(MinHashMatches(expression(a), expression(b)))
}
