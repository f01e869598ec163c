package graft.plans

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** READ-REPAIR for physically torn parquet part files (VERDICT r17
  * next #1): the one durability hole the round-17 protocols left
  * open. [[Stores.ensure]]'s commit marker makes BUILDS atomic and
  * [[AdmitLog]] / `StreamQueries.maintainAppend` make append ROWS
  * exactly-once — but a job hard-killed (SIGKILL / preempted
  * executor / node loss) mid-APPEND into an already-committed store
  * can leave a physically truncated part file visible under a
  * still-valid commit marker. A torn FILE fails the scan before any
  * row-level scrub can run: `spark.table(t)` throws on the missing
  * footer, so the store is unreadable until someone evicts the whole
  * incarnation — observed once in round 17 on the 1000×-tag span
  * store (HISTORY.md round-18 residuals).
  *
  * The repair: before a recovery read, validate each visible part
  * file's parquet envelope and QUARANTINE (move aside, never delete —
  * a false positive must stay recoverable by hand) any file a killed
  * writer left torn. Quarantining cannot lose committed rows: parquet
  * appends only ever CREATE files, so every byte of a torn file was
  * written by the crashed, uncommitted job — its surviving committed
  * rows (if any) are then excised by the family's existing row-level
  * replay ([[AdmitLog.scrub]] for the batch-admit families, the
  * `maintainAppend` epoch scrub for streamed ones). Repair + row
  * scrub together restore exactly the pre-append state — the
  * admission is then REPLAYED from the caller's delta, which the
  * scrub makes legal again (the doc-id replay guard passes once the
  * torn rows are gone).
  *
  * VALIDATION is the physical envelope only — O(12 bytes) per file:
  * leading "PAR1" magic, trailing "PAR1" magic, and a sane footer
  * length (a killed writer truncates the TAIL, which is where
  * parquet keeps the footer; a file that passes cannot have been
  * truncated). Reads go through the Hadoop FileSystem API, so on a
  * checksummed or remote FS a checksum mismatch on those ranges
  * surfaces as an IOException — also quarantined. Cost: one listing
  * + a 12-byte read per part file, driver-side — the same order as
  * the file listing the scan itself performs, which is why the ANN
  * serve paths (streamed appends, no admission log) can afford it
  * per serve; the AdmitLog families gate it on an O(log) torn-intent
  * read in their `ensureStore` instead.
  * The listing is a plain recursive `listStatus` walk and must stay
  * one: `fs.listFiles` builds a `LocatedFileStatus` per file, whose
  * constructor reads the file's owner, group and permission — on a
  * local FS without the native Hadoop library each of those reads
  * forks a shell, which made the listing, not the envelope checks,
  * the whole cost of a repair (0.7–0.9 s over the q57b store's 132
  * entries against 0.01–0.02 s for the walk; Spark's own file
  * listing skips permissions for the same reason).
  *
  * Round18Spec drills the contract literally: a forked JVM begins an
  * append into each committed family (span / BM25 / ANN — s20, s23,
  * s19's ingest targets), is SIGKILLed with a part file half-written,
  * and the parent session must then serve the store green with no
  * manual eviction. */
object ReadRepair {

  private val Magic = "PAR1".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Suffix of the sibling directory quarantined files move to. The
    * name shares the table's own prefix, so [[Stores.evict]]'s family
    * sweep retires quarantined debris with its family. */
  private[graft] val QuarantineSuffix = "_quarantine"

  /** True when the file cannot be a complete parquet file: too short
    * for the envelope, wrong head/tail magic, an impossible footer
    * length, or an I/O error reading those ranges (a checksummed FS
    * reporting the torn write). */
  private[graft] def isTorn(fs: FileSystem, st: FileStatus): Boolean = {
    val len = st.getLen
    if (len < 12) return true
    val in =
      try fs.open(st.getPath)
      catch { case _: java.io.IOException => return true }
    try {
      val head = new Array[Byte](4)
      val tail = new Array[Byte](8)
      in.readFully(0L, head)
      in.readFully(len - 8, tail)
      val footerLen = (tail(0) & 0xff) | ((tail(1) & 0xff) << 8) |
        ((tail(2) & 0xff) << 16) | ((tail(3) & 0xff) << 24)
      !java.util.Arrays.equals(head, Magic) ||
        !java.util.Arrays.equals(java.util.Arrays.copyOfRange(tail, 4, 8), Magic) ||
        footerLen <= 0 || footerLen > len - 12
    } catch {
      case _: java.io.IOException => true
    } finally in.close()
  }

  /** Recursively list the VISIBLE parquet part files under `root` —
    * the exact set a Spark scan would read: a name with a leading '.'
    * or '_' (staging dirs, _SUCCESS, crc sidecars) is invisible to the
    * reader and so cannot tear it; the walk prunes it at its own level
    * and never descends into it. */
  private def visibleParts(fs: FileSystem, root: HPath): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    def walk(dir: HPath): Unit = fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith(".") && !n.startsWith("_")) {
        if (st.isDirectory) walk(st.getPath)
        else if (n.endsWith(".parquet")) out += st
      }
    }
    walk(root)
    out.result()
  }

  /** True when `dir` holds at least one visible, envelope-valid
    * parquet part — i.e. a [[Stores.bind]] schema inference has a
    * footer to read (ADVICE r18: a log directory whose only content
    * is `_temporary` staging from a killed first-ever bootstrap write,
    * or whose sole visible file was just quarantined, must NOT be
    * bound — binding it throws in schema inference and wedges the
    * recovery path this module exists to harden). */
  def hasReadablePart(spark: SparkSession, rawRoot: HPath): Boolean = {
    val root = new HPath(rawRoot.toString)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(root) && visibleParts(fs, root).exists(!isTorn(fs, _))
  }

  /** Validate every visible part under `root`; move torn ones (and
    * their checksum sidecars) into the quarantine directory —
    * `to` when given (REQUIRED when `root` is a partition directory:
    * the default sibling would land INSIDE the table root and read
    * as a malformed partition), else the table-level sibling.
    * Returns the quarantined file names (empty = store was clean). */
  def repairLocation(spark: SparkSession, rawRoot: HPath,
      to: Option[HPath] = None): Seq[String] = {
    // Normalize through Path(String): a root built from a java.nio
    // directory URI carries a trailing slash, under which getName is
    // "" and the default quarantine would land INSIDE the table dir.
    val root = new HPath(rawRoot.toString)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val torn = visibleParts(fs, root).filter(isTorn(fs, _))
    if (torn.isEmpty) return Nil
    val quarantine = to.getOrElse(new HPath(root.getParent,
      root.getName + QuarantineSuffix))
    fs.mkdirs(quarantine)
    torn.map { st =>
      val p = st.getPath
      // Move, never delete: a false positive stays recoverable. A
      // rename that fails (already quarantined by a racing repair)
      // is fine as long as the source is gone.
      fs.rename(p, new HPath(quarantine, p.getName))
      val crc = new HPath(p.getParent, s".${p.getName}.crc")
      if (fs.exists(crc))
        fs.rename(crc, new HPath(quarantine, crc.getName))
      require(!fs.exists(p), s"quarantine of torn part $p failed")
      p.getName
    }
  }

  /** [[repairLocation]] over a warehouse table's directory; refreshes
    * the catalog's file listing when anything moved. Works on both
    * managed and re-bound external tables — every store this
    * protocol guards lives at `warehouse/<table>` by construction. */
  def repairTable(spark: SparkSession, table: String): Seq[String] = {
    GuardTrace.record(table)
    val root = new HPath(
      Stores.warehouse(spark).resolve(table).toUri)
    val moved = repairLocation(spark, root)
    if (moved.nonEmpty) {
      System.err.println(s"[graft] read-repair quarantined " +
        s"${moved.size} torn part file(s) under $table: " +
        moved.mkString(", "))
      if (spark.catalog.tableExists(table))
        spark.catalog.refreshTable(table)
    }
    moved
  }
}
