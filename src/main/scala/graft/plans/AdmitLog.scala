package graft.plans

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** EXACTLY-ONCE guard for BATCH store admission, and the one
  * admission path of the appendable store families: q57b's signature
  * store, q18g's labels store, q74b's BM25 store, q60d's span store
  * and the banded media stores (q25f/q25h/q25j). It is the batch twin
  * of the streaming epoch-marker contract
  * (`StreamQueries.maintainAppend` — marker committed AFTER the data
  * append, replay scrubs a partial epoch). The ANN index is the one
  * appendable family outside it: its ingest is a streaming tier with
  * serve-side read-repair.
  *
  * Protocol ([[admit]] — single batch writer per store family, the
  * documented admission contract; concurrent BUILDS are already
  * serialized by [[Stores.ensure]]'s cross-process lock):
  *  1. `begin` appends an INTENT row (adm_id, "intent") to the
  *     family's log table (the first intent bootstraps the log) —
  *     one single-file write, atomic visibility
  *     (the maintainAppend marker argument: a parquet job commit is a
  *     sequence of task-file renames, but a one-task one-file append
  *     becomes visible with a single rename).
  *  2. Each data frame is tagged `_adm` = adm_id and appended through
  *     [[Bucketing.appendBucketed]] (≤ one file per bucket); then the
  *     caller's derived scalars (meta) are recomputed.
  *  3. `commit` appends the COMMIT row. Visible commit ⇒ every data
  *     append above fully committed.
  * Recovery (`scrub`, run by each family's `ensureStore`, so every
  * reader that resolves the store is covered, and at the top of every
  * admit): an intent with no commit ⇒ that admission may
  * have left PARTIAL rows — rewrite each family table without its
  * `_adm` rows, let the caller recompute derived scalars, then log
  * the id as "scrubbed" so it never re-scrubs. The rewrite is
  * crash-recovery-only, so full-table cost is acceptable (the
  * maintainAppend posture); detection is O(log), one tiny-table read,
  * and no table read at all while a family has no log yet.
  *
  * Build-time rows are tagged `_adm` = −1 (never scrubbed). The log
  * table's name embeds the family head table's fingerprinted name, so
  * a rebuilt store starts a fresh log and [[Stores.evict]]'s
  * prefix-sweep removes logs with their family. */
object AdmitLog {

  def logTableOf(headT: String): String = s"${headT}_admlog"

  /** Write one (adm_id, state) row: an append to an existing log, or
    * the bootstrap of a new one. Either way one single-file write. A
    * dead JVM can leave a log's managed LOCATION with no catalog entry
    * (the maintainAppend bootstrap hazard), so a bootstrap clears it
    * first. */
  private def append(spark: SparkSession, logT: String, id: Long,
      state: String): Unit = {
    val exists = spark.catalog.tableExists(logT)
    if (!exists) Stores.deleteTree(Stores.warehouse(spark).resolve(logT))
    spark.range(1)
      .select(lit(id).as("adm_id"), lit(state).as("state"))
      .repartition(1)
      .write.mode(if (exists) SaveMode.Append else SaveMode.Overwrite)
      .format("parquet").saveAsTable(logT)
    spark.catalog.refreshTable(logT)
  }

  /** The log's (adm_id, state) rows, read with ONE collect (the log
    * holds a few rows per admission); empty while the family has no
    * log. Both the torn ids and the next id derive from these rows on
    * the driver. */
  private def entries(spark: SparkSession, logT: String): Seq[(Long, String)] =
    if (!spark.catalog.tableExists(logT)) Nil
    else {
      spark.catalog.refreshTable(logT)
      spark.table(logT).select(col("adm_id"), col("state")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    }

  /** Bind a log table ANOTHER process wrote to this warehouse (the
    * drill scenario: an ingest JVM opened the family's first-ever
    * admission and died; the serving JVM's catalog has the family
    * bound from before that log existed). Without the bind, torn()
    * reads "no log table" and skips the scrub, and [[begin]]'s
    * bootstrap write would treat the live log directory as garbage —
    * clearing the torn-intent record and restarting adm_ids at 0
    * against data rows still tagged with the old ids (exactly the
    * ADVICE r14 hazard, one process boundary later). Callers must
    * [[ReadRepair]] the directory FIRST: the bind's schema inference
    * reads a parquet footer.
    *
    * Only bind when the directory holds at least one visible,
    * envelope-valid parquet file (ADVICE r18): a log dir with NO
    * readable footer — a first-ever bootstrap write killed mid-write
    * leaving only `_temporary` staging, or the sole visible file just
    * quarantined by the preceding repair — would make the bind's
    * schema inference throw, wedging begin()/scrub() until manual
    * cleanup. An unreadable log implies no durable admissions, so
    * falling through to the bootstrap write (deleteTree, then the
    * intent at adm_id 0) is the correct recovery there. */
  private def bindIfOnDisk(spark: SparkSession, logT: String): Unit =
    if (!spark.catalog.tableExists(logT)) {
      val loc = Stores.warehouse(spark).resolve(logT)
      if (java.nio.file.Files.isDirectory(loc) &&
          ReadRepair.hasReadablePart(spark,
            new org.apache.hadoop.fs.Path(loc.toUri)))
        Stores.bind(spark, logT, loc, None)
    }

  /** Open an admission: log the intent, return the new adm_id (one
    * past the highest logged; 0 for a new log, whose bootstrap write
    * IS the intent). The log is read-repaired first — a killed log
    * append can leave the log ITSELF physically torn, which would fail
    * the read before any scrub could run (the [[ReadRepair]] hazard
    * applied to the guard's own table; the log is tiny, so the repair
    * is a few 12-byte reads). */
  private[graft] def begin(spark: SparkSession, logT: String): Long = {
    ReadRepair.repairTable(spark, logT)
    bindIfOnDisk(spark, logT)
    val id = entries(spark, logT).map(_._1).maxOption.fold(0L)(_ + 1)
    append(spark, logT, id, "intent")
    id
  }

  /** Seal an admission: every data append before this call committed. */
  private[graft] def commit(spark: SparkSession, logT: String, id: Long): Unit =
    append(spark, logT, id, "commit")

  /** Admission ids whose intent has no commit/scrubbed resolution —
    * each may have left partial data rows. */
  def torn(spark: SparkSession, logT: String): Seq[Long] =
    entries(spark, logT).groupBy(_._1).collect {
      case (id, es) if es.forall(_._2 == "intent") => id
    }.toSeq.sorted

  /** Remove every torn admission's rows from the family's tagged
    * tables (the log is keyed on the first, as in [[admit]]), run the
    * caller's derived-scalar recompute, and resolve the ids as
    * scrubbed. Returns the ids scrubbed (empty = nothing torn). The rewrite goes through `insertInto(Overwrite)` — it
    * keeps the catalog entry and routes through the TABLE's bucket
    * spec, which is what makes the rewrite correct on BOTH a
    * this-session managed table and a re-BOUND external one (a
    * `saveAsTable(Overwrite)` on a bound table would drop it and
    * re-create managed over the still-populated location —
    * LOCATION_ALREADY_EXISTS; the scrub-after-rebind path ADVICE r14
    * restored is exactly that case). */
  private[graft] def scrub(spark: SparkSession,
      tables: Seq[String])(recompute: => Unit): Seq[Long] = {
    val logT = logTableOf(tables.head)
    // Read-repair BEFORE any table read (VERDICT r17 #1): a job
    // SIGKILLed mid-append can leave a physically torn part file that
    // fails the scan before the row-level scrub below can run. The
    // log is repaired unconditionally (tiny); the family tables only
    // when a torn intent exists — detection stays O(log) on the
    // happy path, and a torn DATA file implies a torn intent (data
    // appends run strictly between begin and commit, so the kill
    // that tore the file also left the intent unresolved).
    ReadRepair.repairTable(spark, logT)
    bindIfOnDisk(spark, logT)
    tables.foreach(GuardTrace.record) // the scrub IS these tables' guard
    val ids = torn(spark, logT)
    if (ids.nonEmpty) {
      tables.foreach(ReadRepair.repairTable(spark, _))
      tables.foreach { t =>
        spark.catalog.refreshTable(t)
        val dirty = spark.table(t).filter(col("_adm").isin(ids: _*))
        if (!dirty.isEmpty) {
          val keep = spark.table(t)
            .filter(!col("_adm").isin(ids: _*)).localCheckpoint(true)
          keep.write.mode(SaveMode.Overwrite).insertInto(t)
          spark.catalog.refreshTable(t)
        }
      }
      recompute
      ids.foreach(append(spark, logT, _, "scrubbed"))
    }
    ids
  }

  /** ADMIT rows into a store family — the one admission path. The
    * log is keyed on the first append's table (the family's head
    * table, as [[FamilyRegistry]]'s `tables` lists it); each frame is
    * tagged `_adm` = the new id and appended in order through
    * [[Bucketing.appendBucketed]]; then every appended table is
    * refreshed, `recompute` rewrites derived scalars, and the commit
    * lands last. Callers scrub first (their `scrubTorn`), so a torn
    * earlier admission never mixes with this one. Frames are lazy and
    * evaluated at their own append, after `begin`.
    *
    * `crashAfter` is the failure-injection hook for the specs (0 =
    * off): k below the number of appends throws after append k; k
    * equal to it throws after `recompute`, just before the commit. */
  private[graft] def admit(spark: SparkSession,
      appends: Seq[(String, DataFrame)], crashAfter: Int = 0)(
      recompute: => Unit): Unit = {
    val logT = logTableOf(appends.head._1)
    val id = begin(spark, logT)
    def crash(k: Int): Unit =
      if (crashAfter == k)
        throw new RuntimeException(s"injected crash at step $k of admission $id")
    appends.zipWithIndex.foreach { case ((t, df), i) =>
      Bucketing.appendBucketed(df.withColumn("_adm", lit(id)), t)
      if (i + 1 < appends.size) crash(i + 1)
    }
    appends.foreach(a => spark.catalog.refreshTable(a._1))
    recompute
    crash(appends.size)
    commit(spark, logT, id)
  }
}
