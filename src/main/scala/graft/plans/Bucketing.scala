package graft.plans

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The two 100 TB shuffle-elimination techniques the query pack relies
  * on conceptually, made concrete and plan-testable (SURVEY §4.2 /
  * "minimize shuffles"):
  *
  * 1. BUCKETED CO-LOCATED JOIN — write both join sides bucketed by the
  *    join key into the session catalog; the subsequent join reads
  *    pre-partitioned data and plans a SortMergeJoin with NO Exchange
  *    on either side. At 100 TB this converts every recurring
  *    fact-to-fact join on the same key from a full-data shuffle into
  *    a local merge (pay the shuffle once at write time, reuse it in
  *    every query).
  *
  * 2. SALTED TWO-PHASE AGGREGATION — for aggregations whose group key
  *    is pathologically skewed, spread each hot key over `salts`
  *    sub-keys, partially aggregate, then combine. Results are exactly
  *    the aggregate of the unsalted plan for any associative+
  *    commutative aggregate; BucketingSpec asserts equality.
  *    (Joins with skew are handled by AQE skew-join; this is the
  *    groupBy-side counterpart for when map-side partial aggregation
  *    alone cannot absorb a hot key's reduce-side volume.)
  */
object Bucketing {

  /** Write `df` as a bucketed, sorted managed table with ONE file per
    * bucket (idempotent — drops any previous incarnation so a stale
    * managed location from an interrupted run cannot block the
    * create). `repartition(buckets, key)` uses the same murmur3-pmod
    * hash as the bucket spec, so each write task holds exactly one
    * bucket's rows and writes one file; a bare `bucketBy` write would
    * fan out to (input partitions × buckets) files. A bucketed serve
    * reads one task per bucket, so the bucket count is the store's
    * unit of parallelism either way.
    *
    * The write runs with the bucketed scan FORCED. Over a same-spec
    * bucketed source the planner elides the repartition (the scan
    * already satisfies it); the auto bucketed scan would then drop the
    * bucketing it relied on and read one partition per small FILE
    * (measured: 64 output files instead of 8 from a 199-file, 8-bucket
    * table). Forced, each task streams one bucket's files into one new
    * file with no shuffle; for any other source the repartition stays
    * a real shuffle. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // The default in-memory catalog forgets tables across JVMs but the
    // warehouse directory persists; clear a stale managed location or
    // the create fails with LOCATION_ALREADY_EXISTS.
    val wh = java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    Stores.deleteTree(java.nio.file.Paths.get(wh, table))
    withBucketedScan(spark) {
      df.repartition(buckets, col(key)).write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet").saveAsTable(table)
    }
  }

  /** APPEND `df` to an existing bucketed table with at most ONE new
    * file per bucket — the append mode of [[writeBucketed]], and the
    * one write path of every store admission ([[AdmitLog.admit]]).
    * The bucket count and key are read from the table's own catalog
    * spec (managed or re-bound external alike), so no caller restates
    * them; rows go in by `insertInto` in the table's column order.
    * A bare `bucketBy` append would write up to (input tasks ×
    * buckets) files per admission. */
  def appendBucketed(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val (key, buckets) = specOf(spark, table)
    withBucketedScan(spark) {
      df.select(spark.table(table).columns.toSeq.map(col): _*)
        .repartition(buckets, col(key))
        .write.mode(SaveMode.Append).insertInto(table)
    }
  }

  /** (bucket key, bucket count) of a bound table, from the catalog. */
  def specOf(spark: SparkSession, table: String): (String, Int) = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.collect { case s if s.bucketColumnNames.size == 1 =>
        (s.bucketColumnNames.head, s.numBuckets) }
      .getOrElse(sys.error(s"$table carries no single-key bucket spec"))
  }

  /** Run a bucketed write with the bucketed scan FORCED (see
    * [[writeBucketed]]). */
  private def withBucketedScan[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val saved = spark.conf.get(k)
    spark.conf.set(k, "false")
    try body finally spark.conf.set(k, saved)
  }

  /** Join two bucketed tables on their bucket key. When both sides
    * were written with the same bucket count on the join key, the
    * physical plan contains no Exchange. */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** COMPACT an append-mode bucketed table back to one file per
    * bucket, preserving the bucket spec — the operational counterpart
    * of the q57b store lifecycle: every admission
    * ([[appendBucketed]], e.g. the signature store's per-ingest
    * `admit`) adds at most one new file per bucket, so a long-lived
    * store accumulates files linearly in INGESTS while its data grows
    * only with the CORPUS. A build through [[writeBucketed]] starts the
    * store at AT MOST `buckets` files; left alone, every append adds
    * to that — the classic small-file spiral: the zero-exchange
    * bucketed join stays zero-exchange but pays
    * ingest-count×(open+footer) per bucket instead of one sequential
    * read.
    *
    * Shape: read the current table as one task per bucket, rewrite it
    * to a staging table through [[writeBucketed]] (one file per
    * bucket), then swap via catalog renames (retire old → publish new
    * → drop retired). Half-compacted data is never published, and no swap
    * step destroys the only copy: a crash mid-swap leaves both the
    * retired and staging tables intact on disk, and RE-RUNNING
    * compact recovers — a recovery preamble republishes the surviving
    * complete copy first (crash between the two renames: staging is
    * complete because the first rename only runs after the staging
    * write committed; same-JVM it is a catalog rename, cross-JVM the
    * surviving directory is rewritten through `writeBucketed`) —
    * though in this non-transactional session catalog the published
    * NAME can be briefly unbound between the two renames (a metastore
    * with atomic rename-swap closes that window; the invariant this
    * code owns is no data loss and no partial publish — the
    * GraftLetterSink commit discipline applied to maintenance).
    * Production systems compact per-partition/bucket incrementally;
    * at any scale the invariants are the ones the spec pins — row
    * equality, bucket-spec preservation (join still plans no
    * Exchange), and file count collapsing to AT MOST `buckets`
    * (a bucket no key hashes to writes no file; readers treat the
    * missing file as the empty bucket it is). */
  def compact(spark: SparkSession, table: String, key: String,
              buckets: Int): Unit = {
    val staging = table + "__compacting"
    recoverCompact(spark, table, key, buckets)
    // Shuffle-free: writeBucketed reads the table one task per bucket.
    writeBucketed(spark.table(table), staging, key, buckets)
    val retired = table + "__retired"
    Stores.dropManaged(spark, retired) // incl. a dead JVM's orphan dir
    import org.apache.spark.sql.catalyst.TableIdentifier
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    val isExternal = meta.tableType ==
      org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL
    if (isExternal) {
      // A store family RE-BOUND by [[Stores.ensure]] in a fresh
      // process is EXTERNAL (round 19 — compaction now runs on the
      // span/BM25 admit families, which bind cross-process): ALTER
      // RENAME on an external table keeps its LOCATION, so the
      // managed-path swap would try to move the staging dir onto the
      // still-occupied warehouse/<table> path. Instead: drop the
      // binding (data dir survives), clear the fragmented dir (the
      // staging copy is complete — writeBucketed committed above),
      // then publish staging under the family name. A crash between
      // the deleteTree and the rename leaves "no table + staging
      // complete", which [[recoverCompact]] republishes.
      spark.sql(s"DROP TABLE $table")
      Stores.deleteTree(java.nio.file.Paths.get(meta.location.getPath))
      // Clear any unrelated debris at the managed destination too —
      // the rename below moves the staging dir to warehouse/<table>.
      Stores.deleteTree(Stores.warehouse(spark).resolve(table))
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    } else {
      spark.sql(s"ALTER TABLE $table RENAME TO $retired")
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
      spark.sql(s"DROP TABLE IF EXISTS $retired")
    }
  }

  /** Recovery preamble for [[compact]]: if a previous compact crashed
    * between "retire old" and "publish new", the published name is
    * unbound while BOTH the retired and staging copies survive — and
    * the staging copy is complete (the first rename only runs after
    * the staging write committed). Republish it: same-JVM via the
    * pending catalog rename; after a JVM death (empty in-memory
    * catalog, only warehouse directories left) by rewriting the
    * surviving directory through `writeBucketed` (rare crash path —
    * one extra bucketed write buys staying on managed tables). A
    * crash DURING the staging write needs nothing: `table` is still
    * bound, and `writeBucketed` drops the partial staging copy. */
  private def recoverCompact(spark: SparkSession, table: String,
                             key: String, buckets: Int): Unit =
    if (!spark.catalog.tableExists(table)) {
      val staging = table + "__compacting"
      val retired = table + "__retired"
      if (spark.catalog.tableExists(staging)) {
        // The staging copy is complete (it is only ever bound after
        // its write committed). An unbound leftover data dir under
        // the published name (the external-swap crash window) must be
        // cleared first or the rename's directory move fails.
        Stores.deleteTree(Stores.warehouse(spark).resolve(table))
        spark.sql(s"ALTER TABLE $staging RENAME TO $table")
        Stores.dropManaged(spark, retired)
      } else if (spark.catalog.tableExists(retired)) {
        // Crash after dropping staging's binding but before publish —
        // the retired copy is the only one left.
        spark.sql(s"ALTER TABLE $retired RENAME TO $table")
      } else {
        val wh = java.net.URI.create(
          spark.conf.get("spark.sql.warehouse.dir")).getPath
        def dirOf(t: String) = java.nio.file.Paths.get(wh, t)
        val src = Seq(staging, retired).map(dirOf)
          .find(java.nio.file.Files.isDirectory(_))
        src.foreach { d =>
          val df = spark.read.parquet(d.toString)
          writeBucketed(df, table, key, buckets)
          Seq(staging, retired).map(dirOf).foreach(Stores.deleteTree)
        }
      }
    }

  /** Parquet data-file count of a managed table's location — the
    * compaction metric. */
  def dataFileCount(spark: SparkSession, table: String): Int = {
    val wh = java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    val loc = java.nio.file.Paths.get(wh, table)
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(loc)
    try s.iterator().asScala
      .count(p => p.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  /** groupBy(key).sum(valueCol) via salted two-phase aggregation. */
  def saltedSum(df: DataFrame, key: String, valueCol: String,
                salts: Int): DataFrame =
    df.withColumn("_salt", pmod(spark_partition_id()
        + hash(col(valueCol)), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol)).as("_partial"))
      .groupBy(col(key))
      .agg(sum(col("_partial")).as(s"sum_$valueCol"))
}
