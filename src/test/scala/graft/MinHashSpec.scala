package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayMin, Expression, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{MinHash, MinHashMatches, MinHashSignature}
import graft.queries.{NorthStar, Q18bDedupMinHash, Q57bDeltaDedupStore}

/** The native MinHash kernel must give the values of the SQL it
  * replaced — kept here as the spec, as NormalizeWordSpec keeps the
  * regex — and it must be what the batch, streaming and verify sites
  * run: no aggregation before the band join, no `array_min` folds. */
class MinHashSpec extends SparkSpec {
  import spark.implicits._

  /** The signature spelling the kernel replaced: explode each shingle,
    * hash it once (the md5 hex prefix, mod P), and take the 32
    * permutation minima as aggregations per doc. */
  private def specSignatures(shingles: DataFrame): DataFrame = {
    val (p, a, b) = (MinHash.P, MinHash.A, MinHash.B)
    val perms = (0 until 32).map { i =>
      min(expr(s"(((${a} * ${i + 1}) % $p) * h + ((${b} * ${i + 1} + 7) % $p)) % $p")).as(s"m$i")
    }
    shingles.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        expr(s"cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % $p").as("h"))
      .groupBy(col("doc_id")).agg(perms.head, perms.tail: _*)
      .select(col("doc_id"), array((0 until 32).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** The match count the kernel replaced: a flat 32-term chain. */
  private def specMatches(a: String, b: String): String = (1 to 32)
    .map(i => s"IF(element_at($a, $i) = element_at($b, $i), 1, 0)")
    .mkString(" + ")

  private def sf01Shingles: DataFrame = Tables.documents(spark, sf01)
    .select(col("doc_id"), expr(NorthStar.toksExpr).as("t"))
    .filter(size(col("t")) >= 3)
    .select(col("doc_id"), expr(NorthStar.let("t", "t", NorthStar.shinglesExpr)).as("sh"))

  /** One shingle, repeated shingles, multi-byte UTF-8, an empty array,
    * a null array, null elements beside shingles, only a null element,
    * and invalid UTF-8 (binary cast to string). */
  private val edgeSets: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("one two three"),
    2L -> Seq("a b c", "a b c", "x y z", "a b c"),
    3L -> Seq("héllo wörld ünï", "日本語 テキスト です", "smile 😀 face"),
    4L -> Seq.empty,
    5L -> null,
    6L -> Seq(null, "a b c", null),
    7L -> Seq(null))

  private def edges: DataFrame = edgeSets.toDF("doc_id", "sh")
    .union(Seq((8L, Array(0xC3, 0x41, 0x20, 0xFF).map(_.toByte))).toDF("doc_id", "b")
      .select(col("doc_id"), array(col("b").cast("string"), lit("p q r")).as("sh")))

  private def sigsOf(df: DataFrame): Map[Long, Seq[Option[Long]]] =
    df.collect().map(r => r.getLong(0) ->
      r.getSeq[Any](1).map(v => Option(v).map(_.asInstanceOf[Long])).toSeq).toMap

  test("signature == the explode + min formula on sf0.01 shingle sets and edge inputs") {
    for (shingles <- Seq(sf01Shingles, edges)) {
      val native = Q18bDedupMinHash.signatures(shingles)
      val spec = specSignatures(shingles)
      // The persisted column's type: non-null array, nullable elements.
      assert(native.schema("sig") === spec.schema("sig"))
      assert(native.schema("sig").dataType === ArrayType(LongType, containsNull = true))
      assert(!native.schema("sig").nullable)
      val (got, want) = (sigsOf(native), sigsOf(spec))
      assert(got.size > 5)
      assert(got === want)
    }
    val e = sigsOf(Q18bDedupMinHash.signatures(edges))
    assert(!e.contains(4L) && !e.contains(5L), "empty and null arrays are dropped")
    assert(e(7L) === Seq.fill(32)(None), "no shingle to minimize over: 32 nulls")
    val abc = sigsOf(Q18bDedupMinHash.signatures(Seq((9L, Seq("a b c"))).toDF("doc_id", "sh")))
    assert(e(6L) === abc(9L), "null shingles are skipped")
    assert(e(2L) === sigsOf(Q18bDedupMinHash.signatures(
      Seq((9L, Seq("x y z", "a b c"))).toDF("doc_id", "sh")))(9L), "repeats change nothing")
  }

  test("matchCount == the 32-term chain, nulls included") {
    val sigs = specSignatures(sf01Shingles).orderBy("doc_id").limit(30)
    val base = sigs.as("x").crossJoin(sigs.as("y"))
      .select(col("x.sig").as("a"), col("y.sig").as("b"))
    val pairs = base
      .union(sigs.select(col("sig").as("a"),
        expr("transform(sig, (v, i) -> IF(i % 3 = 0, v + 1, v))").as("b")))
      .union(sigs.select(col("sig").as("a"),
        expr("transform(sig, (v, i) -> IF(i % 5 = 0, CAST(NULL AS BIGINT), v))").as("b")))
      .union(sigs.select(expr("transform(sig, (v, i) -> IF(i < 7, CAST(NULL AS BIGINT), v))").as("a"),
        expr("transform(sig, (v, i) -> IF(i % 2 = 0, CAST(NULL AS BIGINT), v))").as("b")))
      .union(sigs.select(col("sig").as("a"), lit(null).cast("array<bigint>").as("b")))
      .union(sigs.select(lit(null).cast("array<bigint>").as("a"), col("sig").as("b")))
      .union(sigs.select(lit(null).cast("array<bigint>").as("a"),
        lit(null).cast("array<bigint>").as("b")).limit(1))
    val out = pairs.select(MinHash.matchCount(col("a"), col("b")).as("n"),
      expr(specMatches("a", "b")).as("spec")).as[(Int, Int)].collect()
    out.foreach { case (n, s) => assert(n === s) }
    val counts = out.map(_._1).toSet
    assert(counts.contains(0) && counts.contains(32) && counts.exists(c => c > 0 && c < 32),
      s"vacuous pairs: $counts")
  }

  test("interpreted eval matches codegen path") {
    def strings(sh: Seq[String]): ArrayData =
      if (sh == null) null
      else new GenericArrayData(sh.map(s => if (s == null) null else UTF8String.fromString(s)).toArray[Any])
    def longs(a: ArrayData): Option[Seq[Option[Long]]] = Option(a).map(x =>
      (0 until x.numElements()).map(i => if (x.isNullAt(i)) None else Some(x.getLong(i))))
    // Without ConvertToLocalRelation the projection runs in generated
    // code instead of being folded into the local relation by eval.
    withConfs("spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") {
      val viaDf = edgeSets.toDF("doc_id", "sh")
        .select(col("doc_id"), MinHash.signature(col("sh")).as("sig"))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[Any](1)).map(_.map(v =>
          Option(v).map(_.asInstanceOf[Long])).toSeq)).toMap
      val interpreted = edgeSets.map { case (id, sh) =>
        id -> longs(MinHashSignature(Literal(strings(sh), ArrayType(StringType))).eval(null)
          .asInstanceOf[ArrayData])
      }.toMap
      assert(viaDf === interpreted)
      assert(interpreted(4L).contains(Seq.fill(32)(None)) && interpreted(5L) == interpreted(4L))

      val sigType = ArrayType(LongType)
      val pairs = Seq[(Seq[java.lang.Long], Seq[java.lang.Long])](
        (Seq(1L, 2L, 3L), Seq(1L, 5L, 3L)),
        (Seq(1L, null, 3L), Seq(1L, null, 4L)),
        ((1L to 40L).map(Long.box), (1L to 40L).map(Long.box)),
        (Seq(7L), null), (null, null))
      val matchDf = pairs.toDF("a", "b")
        .select(MinHash.matchCount(col("a"), col("b"))).as[Int].collect().toSeq
      val matchEval = pairs.map { case (a, b) =>
        def lit(v: Seq[java.lang.Long]) =
          Literal(if (v == null) null else new GenericArrayData(v.toArray[Any]), sigType)
        MinHashMatches(lit(a), lit(b)).eval(null).asInstanceOf[Int]
      }
      assert(matchDf === matchEval)
      assert(matchEval === Seq(2, 1, 32, 0, 0))
    }
  }

  test("q57b serve: no aggregate and no exchange but the band join's own between the delta checkpoint and the band join") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // Shuffled joins, so the delta side's exchanges are all in the plan.
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = Q57bDeltaDedupStore.run(spark, sf01)
      df.collect()
      val bandJoins = flattenPlan(df.queryExecution.executedPlan).collect {
        case j: SortMergeJoinExec if j.leftKeys.exists(_.references.exists(_.name == "bkey")) => j
      }
      assert(bandJoins.size == 1, s"expected one band join, found ${bandJoins.size}")
      val deltaSides = bandJoins.head.children.filter(c =>
        flattenPlan(c).exists(_.isInstanceOf[RDDScanExec]))
      assert(deltaSides.size == 1, "the band join must have one side over the delta checkpoint")
      val side = flattenPlan(deltaSides.head)
      val aggregates = side.collect { case a: BaseAggregateExec => a.nodeName }
      assert(aggregates.isEmpty, s"aggregation on the delta side: $aggregates")
      val foreign = side.collect { case e: ShuffleExchangeLike => e }.filterNot(_.outputPartitioning match {
        case h: HashPartitioning => h.expressions.forall(_.references.forall(_.name == "bkey"))
        case _ => false
      })
      assert(foreign.isEmpty, s"exchanges besides the band join's own: $foreign")
    }
  }

  test("s12 and s12b sign the delta stream with the kernel, not array_min folds") {
    def exprs(qe: org.apache.spark.sql.execution.QueryExecution): Seq[Expression] =
      qe.analyzed.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    for (q <- Seq(graft.streaming.S12StreamDeltaDedup, graft.streaming.S12bStreamDeltaDedupStore)) {
      val (_, qes) = listened { q.run(spark, sf).collect() }
      val batches = qes.filter(_.getClass.getName.endsWith(".IncrementalExecution"))
      assert(batches.nonEmpty, s"${q.name}: no micro-batch execution seen")
      batches.foreach { qe =>
        val es = exprs(qe)
        assert(es.exists(_.isInstanceOf[MinHashSignature]), s"${q.name}: no kernel")
        assert(!es.exists(_.isInstanceOf[ArrayMin]), s"${q.name}: array_min in plan")
      }
    }
  }
}
