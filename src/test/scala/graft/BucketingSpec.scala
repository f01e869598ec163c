package graft

import org.apache.spark.sql.functions._

import graft.plans.Bucketing

/** Plan-level assertions for the shuffle-elimination techniques. */
class BucketingSpec extends SparkSpec {

  test("bucketed co-located join plans with NO Exchange") {
    Bucketing.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
      "b_orders", "o_orderkey", 8)
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
      "b_lineitem", "o_orderkey", 8)
    // disable broadcast: at fixture scale both sides auto-broadcast,
    // which would mask the bucketing (at 100 TB neither side fits)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.colocatedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    // and it is still a correct join
    val expect = Tables.orders(spark, sf).select("o_orderkey")
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey").as("o_orderkey")),
        "o_orderkey").count()
    val n = Bucketing.colocatedJoin(spark, "b_orders", "b_lineitem", "o_orderkey").count()
    assert(n === expect)
  }

  test("q19b's LSH bucket as a write-time partition column prunes the scan") {
    // Proves the q19b scale claim: persisting embeddings partitioned
    // by the 8-bit sign signature turns the ANN bucket filter into
    // PARTITION PRUNING — the probe scan touches 1 of the written
    // partitions, never the full corpus.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val sigExpr =
      "concat_ws('', transform(slice(embedding, 1, 8), x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END))"
    val dir = java.nio.file.Files.createTempDirectory("ann_parts").toString
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), expr(sigExpr).as("sig"))
    e.write.mode("overwrite").partitionBy("sig").parquet(dir)
    val back = spark.read.parquet(dir)
    val nParts = back.select("sig").distinct().count()
    assert(nParts > 1, "fixture produced a single bucket; test is vacuous")
    // all-digit sig strings come back type-inferred (INT) from the
    // partition directory names — use the inferred value verbatim
    val qSig = back.filter(col("vec_id") === 0).select("sig").head().get(0)
    val probe = back.filter(col("sig") === lit(qSig))
    val scans = probe.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a parquet scan")
    assert(scans.head.partitionFilters.nonEmpty,
      s"bucket filter did not become a partition filter:\n${probe.queryExecution}")
    assert(scans.head.selectedPartitions.partitionCount === 1,
      s"expected 1 pruned partition of $nParts")
  }

  test("salted two-phase sum equals the direct aggregation") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity").cast("decimal(12,2)").as("q"))
    val salted = Bucketing.saltedSum(li, "l_returnflag", "q", salts = 16)
      .orderBy("l_returnflag").collect()
    val direct = li.groupBy("l_returnflag").agg(sum("q").as("sum_q"))
      .orderBy("l_returnflag").collect()
    assert(salted.map(r => (r.getString(0), r.getDecimal(1))).toSeq ===
      direct.map(r => (r.getString(0), r.getDecimal(1))).toSeq)
  }

  test("compact: append-grown bucketed table collapses to one file per bucket, rows and co-location preserved") {
    import spark.implicits._
    val t = "b_compact_store"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // initial write + three append waves: the q57b admit shape —
    // every wave adds files to every touched bucket
    def wave(lo: Int, hi: Int) = (lo until hi)
      .map(i => (s"key$i", i.toLong)).toDF("k", "v")
    Bucketing.writeBucketed(wave(0, 400), t, "k", 8)
    for (w <- 1 to 3)
      wave(w * 400, w * 400 + 400).write
        .mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(8, "k").sortBy("k").format("parquet").saveAsTable(t)
    val before = Bucketing.dataFileCount(spark, t)
    assert(before > 8, s"appends produced only $before files — test vacuous")
    val rowsBefore = spark.table(t).orderBy("k").collect()

    Bucketing.compact(spark, t, "k", 8)

    assert(Bucketing.dataFileCount(spark, t) === 8,
      "compaction must leave exactly one file per bucket")
    assert(spark.table(t).orderBy("k").collect() === rowsBefore)
    assert(spark.catalog.listTables().collect()
      .forall(!_.name.contains("__compacting")), "staging table leaked")

    // bucket spec preserved: a co-located join against another
    // 8-bucket table still plans zero Exchange
    Bucketing.writeBucketed(wave(0, 1600), "b_compact_dim", "k", 8)
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val joined = Bucketing.colocatedJoin(spark, t, "b_compact_dim", "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
        s"compacted table lost co-location:\n$plan")
      assert(joined.count() === 1600L)
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql("DROP TABLE IF EXISTS b_compact_dim")
  }

  test("writeBucketed over a same-spec bucketed source keeps one file per bucket") {
    import spark.implicits._
    val t = "b_rewrite_src"
    val t2 = "b_rewrite_dst"
    // the append-grown shape compact sees, rewritten by a plain
    // writeBucketed call (no forced scan by the caller)
    def wave(lo: Int, hi: Int) = (lo until hi)
      .map(i => (s"key$i", i.toLong)).toDF("k", "v")
    Bucketing.writeBucketed(wave(0, 400), t, "k", 8)
    for (w <- 1 to 3)
      wave(w * 400, w * 400 + 400).write
        .mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(8, "k").sortBy("k").format("parquet").saveAsTable(t)
    val before = Bucketing.dataFileCount(spark, t)
    assert(before > 8, s"appends produced only $before files — test vacuous")
    try {
      Bucketing.writeBucketed(spark.table(t), t2, "k", 8)
      val after = Bucketing.dataFileCount(spark, t2)
      assert(after <= 8, s"$before source files rewrote to $after files")
      assert(spark.table(t2).orderBy("k").collect() ===
        spark.table(t).orderBy("k").collect())
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS $t2")
    }
  }
}
