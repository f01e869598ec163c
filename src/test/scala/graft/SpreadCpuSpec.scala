package graft

import org.apache.spark.sql.catalyst.plans.logical.Repartition

/** [[Tables.spreadCpu]]'s size guard: cores × 16 MB of leaf-scan
  * estimate, capped at an absolute 64 MB so it does not grow with the
  * host's core count. */
class SpreadCpuSpec extends SparkSpec {

  test("spreadCpu: the guard is capped at 64 MB, unchanged up to 4 cores") {
    assert(Tables.SpreadCpuMaxBytes == (64L << 20))
    (1 to 4).foreach(c => assert(Tables.spreadCpuLimit(c) == BigInt(c.toLong << 24)))
    Seq(5, 8, 32, 128).foreach(c =>
      assert(Tables.spreadCpuLimit(c) == BigInt(Tables.SpreadCpuMaxBytes)))
  }

  test("spreadCpu: a frame above the ceiling is returned untouched even where cores × 16 MB would spread it") {
    val cores = spark.sparkContext.defaultParallelism
    assume(cores > 4, s"needs a session wider than 4 cores, got $cores")
    def leafEstimate(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum
    // 10M longs: an 80 MB leaf estimate, over the ceiling but under
    // this session's cores × 16 MB.
    val big = spark.range(10000000L).toDF()
    assert(leafEstimate(big) > Tables.SpreadCpuMaxBytes &&
      leafEstimate(big) <= BigInt(cores.toLong << 24))
    assert(Tables.spreadCpu(big) eq big)
    // A small frame still gets the explicit full-core repartition.
    val small = spark.range(1000L).toDF()
    Tables.spreadCpu(small).queryExecution.logical match {
      case r: Repartition => assert(r.numPartitions == cores && r.shuffle)
      case other => fail(s"expected a $cores-way repartition, got:\n$other")
    }
  }
}
