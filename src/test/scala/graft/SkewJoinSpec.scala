package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Scale posture: AQE skew-join splitting (SURVEY §4.2 — "skewed
  * keys → salting or AQE skew join"). q34 demonstrates the manual
  * salting fallback; this spec proves the automatic path: a join
  * with one hot key is re-planned at runtime into split skew
  * partitions (the SMJ is marked `skew=true`), with thresholds
  * lowered so fixture-scale data qualifies. Results must equal the
  * unskewed-config join. */
class SkewJoinSpec extends SparkSpec {

  test("AQE splits the hot key: SortMergeJoin(skew=true) in the adaptive plan") {
    val dir = Files.createTempDirectory("skew").toString
    // one hot key (500k rows) + 200 uniform keys of 250 rows — the
    // hot shuffle partition must clear the (lowered) byte thresholds
    // by a wide margin or OptimizeSkewedJoin declines to split
    spark.range(500000).select(lit(1L).as("k"), col("id").as("v"))
      .union(spark.range(50000).select((col("id") % 200 + 2).as("k"), col("id").as("v")))
      .write.parquet(s"$dir/fact")
    spark.range(202).select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
      .write.parquet(s"$dir/dim")
    try withConfs(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // sum(v) keeps the fact payload column in the shuffle — a
      // key-only scan halves the hot partition's bytes below the
      // threshold and the split silently declines
      val q = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), "k")
        .groupBy(col("name")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val rows = q.collect() // AQE re-plans during execution
      val adaptive = q.queryExecution.executedPlan
        .collectFirst { case a: AdaptiveSparkPlanExec => a }
      val finalPlan = adaptive.map(_.executedPlan.toString)
        .getOrElse(q.queryExecution.executedPlan.toString)
      assert(finalPlan.contains("skew=true"),
        s"expected a skew-split SMJ in the final adaptive plan:\n$finalPlan")
      // split execution must not change the aggregate
      assert(rows.map(_.getAs[Long]("n")).sum === 550000L)
      val hot = rows.find(_.getAs[String]("name") == "d1").get
      assert(hot.getAs[Long]("n") === 500000L)
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(Files.delete)
    }
  }

  test("AQE DECLINES the split when the join key is the downstream grouping key — q34's salt is the fallback") {
    // The measured dispatch rule (HISTORY.md, round-12 AQE skew-join): AQE
    // beats manual salting whenever it can split, but splitting a
    // partition would break a downstream hash-distribution
    // requirement on the same key, so a join feeding GROUP BY <join
    // key> keeps skew=false and the hot key serializes one task —
    // exactly where q34's salt + two-level aggregation (1.4–1.9×
    // measured) stays necessary. Pinned so a Spark upgrade that
    // learns this case surfaces as a failure → re-evaluate q34.
    val dir = Files.createTempDirectory("skewdecl").toString
    spark.range(500000).select(lit(1L).as("k"), col("id").as("v"))
      .union(spark.range(50000).select((col("id") % 200 + 2).as("k"), col("id").as("v")))
      .write.parquet(s"$dir/fact")
    spark.range(202).select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
      .write.parquet(s"$dir/dim")
    try withConfs(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), "k")
        .groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val rows = q.collect()
      val adaptive = q.queryExecution.executedPlan
        .collectFirst { case a: AdaptiveSparkPlanExec => a }
      val finalPlan = adaptive.map(_.executedPlan.toString)
        .getOrElse(q.queryExecution.executedPlan.toString)
      assert(!finalPlan.contains("skew=true"),
        "AQE now splits under a join-key grouping — re-evaluate whether " +
          s"q34's manual salt is still needed:\n$finalPlan")
      assert(rows.find(_.getAs[Long]("k") == 1L).get.getAs[Long]("n") === 500000L)
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(Files.delete)
    }
  }
}
