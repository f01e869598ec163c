package graft

import org.apache.spark.sql.functions._
import graft.queries.{Q19dAnnIvf, Q19eAnnIvfStore, Q19gAnnPq, Q19SimilarityTopK}

/** Q19g (IVF + product quantization) has no DuckDB oracle (M seeded
  * KMeans codebooks live in the JVM) — this spec is its gate:
  * determinism, recall floors against both the exact baseline (q19,
  * hash-checked) and the uncompressed store tier (q19e), the
  * partition-pruned codes scan, the codebook's independence from the
  * core count, and the measured on-disk bytes-per-vector compression
  * that is the tier's reason to exist. */
class AnnPqSpec extends SparkSpec {
  import spark.implicits._

  private def evictAll(): Unit = {
    graft.plans.Stores.evict(spark, "graft_pqstore")
    graft.plans.Stores.evict(spark, "graft_annstore")
  }

  test("q19g: deterministic, sorted exact cosines; recall holds vs q19 and vs the uncompressed tier") {
    evictAll()
    try {
      val a = Q19gAnnPq.run(spark, sf01).collect()
      val b = Q19gAnnPq.run(spark, sf01).collect()
      assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
      assert(a.nonEmpty && a.length <= 10)
      val cos = a.map(_.getAs[Double]("cosine"))
      assert(cos.toSeq === cos.sortBy(-_).toSeq)
      assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
      // Recall vs the EXACT top-10 (hash-checked baseline): bounded
      // by the coarse quantizer's recall (q19d's >= 0.5 gate); the
      // ADC+rerank stage must not lose more on top of it.
      val ids = a.map(_.getLong(0)).toSet
      val exact = Q19SimilarityTopK.run(spark, sf01)
        .select("vec_id").as[Long].collect().toSet
      val recallExact = (ids & exact).size.toDouble / exact.size
      info(f"recall vs exact: $recallExact%.2f")
      // Floor re-armed with AnnIvfSpec's for the Aug-19 (r20) fixture
      // regeneration: bounded by the coarse 4-probe recall, itself now
      // 0.40 on the new embeddings; the PQ stage's own loss is still
      // gated by the >= 0.7 vs-uncompressed-tier assert below.
      assert(recallExact >= 0.3, s"recall vs exact $recallExact")
      // Recall vs the UNCOMPRESSED store tier (same probes, exact
      // within): isolates the PQ quantization error from the coarse-
      // probe loss. The 50-deep exact rerank must recover most of
      // the in-list top-10.
      val uncompressed = Q19eAnnIvfStore.run(spark, sf01)
        .select("vec_id").as[Long].collect().toSet
      val recallTier = (ids & uncompressed).size.toDouble / uncompressed.size
      info(f"recall vs uncompressed tier: $recallTier%.2f")
      assert(recallTier >= 0.7,
        s"PQ tier lost too much vs q19e: $recallTier ($ids vs $uncompressed)")
    } finally evictAll()
  }

  test("q19g: the ADC scan is partition-pruned to nProbe code partitions and never reads raw vectors outside the rerank semi-join") {
    evictAll()
    try {
      val (centT, listsT, cbT, codesT) = Q19gAnnPq.ensurePqStore(spark, sf01)
      val df = Q19gAnnPq.query(spark, sf01, centT, listsT, cbT, codesT,
        Q19dAnnIvf.NProbe)
      df.collect()
      import org.apache.spark.sql.execution.FileSourceScanExec
      val scans = flattenPlan(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f }
      val codeScans = scans.filter(_.tableIdentifier.exists(_.table == codesT))
      assert(codeScans.nonEmpty, "expected a scan of the codes table")
      codeScans.foreach { f =>
        assert(f.partitionFilters.nonEmpty,
          s"list_id must be a partition filter, got: ${f.partitionFilters}")
        assert(f.selectedPartitions.partitionCount == Q19dAnnIvf.NProbe,
          s"codes scan must read exactly nProbe partitions, read " +
            s"${f.selectedPartitions.partitionCount} of ${Q19dAnnIvf.K}")
      }
      // The raw lists table is touched only by the rerank branch, and
      // that scan is partition-pruned too.
      val listScans = scans.filter(_.tableIdentifier.exists(_.table == listsT))
      listScans.foreach { f =>
        assert(f.partitionFilters.nonEmpty &&
            f.selectedPartitions.partitionCount == Q19dAnnIvf.NProbe,
          s"rerank lists scan must stay partition-pruned")
      }
    } finally evictAll()
  }

  test("q19g: the codebook does not depend on the core count (local[16] child JVM ≡ this session)") {
    evictAll()
    val childWh = java.nio.file.Files.createTempDirectory("pq_child_wh")
    try {
      val child = graft.plans.ChildJvm.runUntil(
        "graft.AnnPqCodebookChild", Seq(sf01, childWh.toString),
        AnnPqCodebookChild.Done)
      val (_, _, cbT, _) = Q19gAnnPq.ensurePqStore(spark, sf01)
      val mine = AnnPqCodebookChild.rows(spark, cbT)
      assert(mine.size == Q19gAnnPq.M * Q19gAnnPq.Ks)
      val differing = child.zip(mine).count { case (c, m) => c != m }
      assert(child.size == mine.size && differing == 0,
        s"$differing of ${mine.size} codebook rows differ under local[16] " +
          s"(child returned ${child.size} rows)")
    } finally {
      evictAll()
      graft.plans.Stores.deleteTree(childWh)
    }
  }

  test("q19g: the codes table is an order-of-magnitude smaller on disk than the raw lists (the memory tier's contract)") {
    evictAll()
    try {
      val (_, listsT, _, codesT) = Q19gAnnPq.ensurePqStore(spark, sf01)
      val wh = java.nio.file.Paths.get(java.net.URI.create(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      def bytes(t: String): Long = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.walk(wh.resolve(t))
        try s.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size(_)).sum
        finally s.close()
      }
      val (rawB, codeB) = (bytes(listsT), bytes(codesT))
      val n = spark.table(listsT).count()
      info(f"lists: $rawB bytes (${rawB.toDouble / n}%.0f B/vec), " +
        f"codes: $codeB bytes (${codeB.toDouble / n}%.0f B/vec), " +
        f"ratio ${rawB.toDouble / codeB}%.1fx")
      assert(codeB * 4 < rawB,
        s"codes table not meaningfully smaller: $codeB vs $rawB")
    } finally evictAll()
  }
}

/** Child-JVM side of AnnPqSpec's core-count test: builds the PQ store
  * under `local[16]` in its own warehouse and prints the codebook rows.
  * Args: corpus dir, warehouse dir. */
object AnnPqCodebookChild {
  val Done = "CODEBOOK_DONE"

  /** One line per codebook row, in (sub_id, code_id) order, with the
    * centroid's doubles printed exactly. */
  def rows(spark: org.apache.spark.sql.SparkSession, cbT: String): Seq[String] =
    spark.table(cbT).orderBy("sub_id", "code_id").collect().toSeq
      .map(r => s"${r.getInt(0)} ${r.getInt(1)} ${r.getSeq[Double](2).mkString(",")}")

  def main(args: Array[String]): Unit = {
    val Array(corpusDir, warehouseDir) = args
    val spark = Engine.configure(org.apache.spark.sql.SparkSession.builder()
        .master("local[16]")
        .config("spark.sql.warehouse.dir", warehouseDir)
        .config("spark.sql.shuffle.partitions", "16"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (_, _, cbT, _) = Q19gAnnPq.ensurePqStore(spark, corpusDir)
    rows(spark, cbT).foreach(println)
    println(Done)
    Console.flush()
  }
}
