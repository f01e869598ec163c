package graft.plans

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.SparkSession

/** Shared machinery for PERSISTED derived stores (the q57b pattern):
  * a table family whose names embed (a) a tag of the corpus DIR and
  * (b) a fingerprint of the corpus FILES, so
  *  - stores for different dirs coexist (alternating dirs in one
  *    session must not evict each other and re-pay the corpus scan),
  *  - a regenerated corpus changes the fingerprint under the same dir
  *    tag, and the superseded store is dropped — eviction scoped to
  *    the one dir whose store went stale, bounding warehouse growth
  *    without touching live stores.
  *
  * Used by every persisted store family — the appendable ones
  * (signatures, labels, BM25, spans, ANN indexes, media hashes) and
  * the write-once ones (aggregates, vocabularies, classifiers, …);
  * [[FamilyRegistry]] lists them all. Appendable families admit rows
  * through [[AdmitLog.admit]].
  *
  * CROSS-PROCESS BUILD PROTOCOL (round 11): two sessions sharing a
  * warehouse must not race `build`. The critical section is guarded
  * twice — a JVM-level monitor (same-process threads) and an OS-level
  * advisory file lock (`<prefix>_<tag>.lock`, `FileChannel.lock` —
  * blocks across processes and is released by the OS if the holder
  * dies). Build completion is recorded by an atomically-moved COMMIT
  * MARKER (`<prefix>_<tag>_<fp>.committed` — fingerprint-named, so a
  * marker can never vouch for a different corpus snapshot). Under the
  * lock the state machine is:
  *  - tables bound in this catalog + marker present → serve;
  *  - marker present + data directories present but unbound (a fresh
  *    process reading a store another process committed) → BIND the
  *    existing data as external tables (schema inferred from the
  *    parquet, bucket spec re-declared from the caller's `buckets`) —
  *    no rebuild, both processes read the SAME files;
  *  - no marker (nothing built, or a crashed half-build left orphan
  *    directories) → evict orphans + stale incarnations, `build`,
  *    then commit the marker.
  * The marker is deleted before any rebuild/eviction, so a crash
  * inside `build` leaves "no marker + orphans" — the state the next
  * `ensure` (any process) recovers from deterministically.
  */
object Stores {

  /** Walk a directory bottom-up and delete it; the `Files.walk`
    * stream is materialized and CLOSED before deleting (leaked
    * directory handles accumulate in a long-lived JVM otherwise). */
  private[graft] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val paths = {
        val s = Files.walk(p)
        try s.iterator().asScala.toVector finally s.close()
      }
      paths.reverse.foreach(Files.deleteIfExists(_))
    }

  /** Verify a freshly acquired lock still guards what `path` names
    * (the OPEN-BEFORE-LOCK window, ADVICE r12): between an actor's
    * open and lock, a concurrent sweep holding `tryLock` may unlink
    * the path — the actor then holds a lock on an ORPHANED inode
    * while a later `ensure` creates and locks a fresh file, giving
    * two "exclusive" holders. Handshake: write a unique token through
    * OUR channel (which addresses the locked inode) and read the PATH
    * back; equality proves path and inode still coincide. Advisory
    * locks never block the path read; a torn read of another writer's
    * token just reports false — the caller retries (ensure) or skips
    * (gcMarkers), both safe. */
  private def ownsPath(ch: FileChannel, path: Path): Boolean = {
    val token = java.util.UUID.randomUUID().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ch.truncate(0)
    ch.write(java.nio.ByteBuffer.wrap(token), 0)
    ch.force(false)
    val onPath =
      try Files.readAllBytes(path)
      catch { case _: java.io.IOException => Array.empty[Byte] }
    java.util.Arrays.equals(onPath, token)
  }

  /** List a directory's entries with the stream closed. */
  private def listDir(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(p)
      try s.iterator().asScala.toVector finally s.close()
    }

  private[graft] def warehouse(spark: SparkSession): Path =
    Paths.get(java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)

  /** Drop a managed table AND clear its warehouse directory if a dead
    * JVM left one behind: the in-memory catalog forgets tables across
    * JVMs while the warehouse persists, and both CREATE TABLE and
    * ALTER ... RENAME refuse a pre-existing destination location.
    * The safe preamble for any run-scoped/staging managed table. */
  def dropManaged(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    deleteTree(warehouse(spark).resolve(table))
  }

  /** Corpus fingerprint from file METADATA only (no data scan): a
    * store keyed by (dir, file names, lengths, mtimes) goes stale
    * exactly when the fixture is regenerated. */
  def fingerprint(spark: SparkSession, dir: String,
                  table: String = "documents.parquet"): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = fs.listStatus(p).filter(_.isFile)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$stats".getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
  }

  private def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(3).map("%02x".format(_)).mkString

  /** Run `body` under the SAME cross-process advisory-lock handshake
    * [[ensure]] uses (OS file lock + [[ownsPath]] inode check), on a
    * dedicated lock file. JVM-local callers must already hold
    * `this.synchronized` — FileChannel locks are per-JVM, so a second
    * same-JVM thread reaching `ch.lock()` while the first holds it
    * would throw OverlappingFileLockException rather than block. */
  private def withProcessLock[T](wh: Path, lockName: String)(body: => T): T = {
    Files.createDirectories(wh)
    val lockPath = wh.resolve(lockName)
    var ch: FileChannel = null
    var lock: java.nio.channels.FileLock = null
    var spins = 0
    while (lock == null) {
      spins += 1
      require(spins <= 1000, s"lock handshake livelock on $lockPath")
      ch = FileChannel.open(lockPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val l = ch.lock()
      if (ownsPath(ch, lockPath)) lock = l
      else { l.release(); ch.close() }
    }
    try { try body finally lock.release() } finally ch.close()
  }

  /** Fingerprint-keyed absolute warehouse path for a run-scoped
    * SNAPSHOT artifact (the oracle-bridge dirs): the same
    * (dir tag, corpus fingerprint) keying the table names use, so
    * interleaved runs over DIFFERENT corpora (scale decades, parallel
    * specs) write distinct snapshot directories instead of silently
    * overwriting one shared path and cross-pairing a snapshot with
    * another corpus's tables (ADVICE r16). */
  /** How long a SUPERSEDED snapshot dir must have been quiet (mtime)
    * before [[snapPath]]'s sweep may retire it — long enough for any
    * sibling process's run-then-oracle-read pass over that dir to
    * finish (test-overridable). */
  private[graft] var SnapSweepGraceMs: Long = 15L * 60 * 1000

  def snapPath(spark: SparkSession, base: String, dir: String,
               fpTables: Seq[String] = Seq("documents.parquet")): String =
    this.synchronized {
      val tag = dirTag(dir)
      val fp = fpTables.map(fingerprint(spark, dir, _)).mkString
      val name = s"${base}_${tag}_$fp"
      // Evict superseded siblings — same (base, dir tag), different
      // fingerprint (ADVICE r17): the fingerprinted naming stops
      // cross-corpus overwrites, but a regenerated corpus would
      // otherwise ACCUMULATE one orphaned snapshot dir per
      // generation (the old fixed-name paths were self-overwriting).
      // Scoped to this dir's tag, so interleaved corpora (scale
      // decades, parallel specs) keep their own live snapshots.
      // The sweep runs under the SAME cross-process file-lock
      // protocol ensure's builds use (ADVICE r18): `this.synchronized`
      // is JVM-local, so two processes sharing a warehouse could
      // otherwise interleave their list/delete — and a superseded dir
      // is only deleted after a GRACE window (mtime-aged): the
      // residual race is a sibling process's just-completed run
      // handing its snapshot path to its DuckDB oracle while this
      // process, on a regenerated corpus, sweeps it — the oracle read
      // follows the run within the same driver pass, so an aged bar
      // of minutes closes the window while still retiring one-per-
      // generation orphans on the next sweep after they cool.
      withProcessLock(warehouse(spark), s"${base}_$tag.snaplock") {
        val cutoff = System.currentTimeMillis - SnapSweepGraceMs
        listDir(warehouse(spark)).foreach { d =>
          val n = d.getFileName.toString
          if (n.startsWith(s"${base}_${tag}_") && n != name &&
              (try Files.getLastModifiedTime(d).toMillis < cutoff
               catch { case _: java.io.IOException => false }))
            deleteTree(d)
        }
      }
      warehouse(spark).resolve(name).toAbsolutePath.toString
    }

  /** Absolute path of a MANAGED table's warehouse directory — the
    * pinning lever for write-once fingerprinted stores: a serve's
    * oracle can read the store's own parquet files instead of paying
    * an O(corpus) copy per run (ADVICE r16; the S19 posture). */
  def tablePath(spark: SparkSession, table: String): String =
    warehouse(spark).resolve(table).toAbsolutePath.toString

  /** Register a committed store directory another process built as an
    * external table: schema inferred from the parquet files, bucket
    * spec re-declared (Spark reads bucket ids from the file names, so
    * the zero-exchange join posture survives the re-bind, and
    * [[Bucketing.appendBucketed]] reads the re-declared spec). */
  private[plans] def bind(spark: SparkSession, name: String, loc: Path,
                          bucket: Option[(String, Int)]): Unit = {
    val schema = spark.read.parquet(loc.toString).schema.toDDL
    val cluster = bucket.map { case (k, n) =>
      s"CLUSTERED BY ($k) SORTED BY ($k) INTO $n BUCKETS" }.getOrElse("")
    spark.sql(s"CREATE TABLE $name ($schema) USING parquet $cluster " +
      s"LOCATION '${loc.toUri}'")
  }

  /** Operational eviction: drop EVERY incarnation under `prefix` —
    * catalog entries, warehouse directories, commit markers, lock
    * files. The cold-start lever for measurements (the build-vs-serve
    * split of HISTORY.md's round-11 scale points) and for
    * decommissioning a store family. */
  def evict(spark: SparkSession, prefix: String): Unit = this.synchronized {
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix + "_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    listDir(warehouse(spark))
      .filter(_.getFileName.toString.startsWith(prefix + "_"))
      .foreach(deleteTree)
  }

  /** GARBAGE-COLLECT orphaned coordination files under `prefix`: a
    * commit marker whose data directories are all gone (a family
    * removed by hand, or a corpus decommissioned so no `ensure` will
    * ever resolve its dir tag again) and lock files whose tag has
    * neither a marker nor a data directory left. [[evict]] removes a
    * family wholesale; this sweep closes the residual case where
    * ONLY a marker + lock pair survives — the one warehouse-growth
    * leak the round-10 protocol left open. Safe to run concurrently
    * with builds: each lock file is deleted only under its own
    * `tryLock` (a held lock — an active builder — makes the sweep
    * skip that tag) AND only after the [[ownsPath]] handshake proves
    * the locked inode is still what the path names — so neither a
    * live builder's inode nor a fresh lock file another `ensure`
    * just created can be unlinked out from under its holder. */
  def gcMarkers(spark: SparkSession, prefix: String): Unit = this.synchronized {
    val wh = warehouse(spark)
    def entries() = listDir(wh).map(_.getFileName.toString)
    val names = entries()
    // marker: <prefix>_<tag>_<fp>.committed ; data: <prefix>_<kind>_<tag>_<fp>
    names.filter(n => n.startsWith(prefix + "_") && n.endsWith(".committed"))
      .foreach { mn =>
        mn.stripSuffix(".committed").stripPrefix(prefix + "_")
          .split("_") match {
          case Array(tag, fp) =>
            val hasData = names.exists(n => n.startsWith(prefix + "_") &&
              n.endsWith(s"_${tag}_$fp") && !n.endsWith(".committed"))
            if (!hasData) Files.deleteIfExists(wh.resolve(mn))
          case _ => () // not a marker this protocol wrote
        }
      }
    val after = entries()
    after.filter(n => n.startsWith(prefix + "_") && n.endsWith(".lock"))
      .foreach { ln =>
        val tag = ln.stripSuffix(".lock").stripPrefix(prefix + "_")
        // Acquire the lock BEFORE deleting: deleting a lock file out
        // from under a live builder would let the next `ensure` lock
        // a fresh inode while the old holder still holds the orphaned
        // one — two "exclusive" builds at once. tryLock (non-blocking)
        // because a held lock means the tag is in active use: skip it,
        // this sweep only removes genuinely orphaned coordination
        // files. Deleting while holding the lock is safe (POSIX
        // unlink; the inode lives until release).
        val ch = FileChannel.open(wh.resolve(ln),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          val lock = ch.tryLock()
          if (lock != null) {
            try {
              val now = entries()
              val live = now.exists(n => n != ln && n.startsWith(prefix + "_") &&
                n.contains(s"_${tag}_"))
              // ownsPath: if a concurrent sweep unlinked this path
              // after our open, the path may now be a DIFFERENT
              // process's fresh lock file — deleting it would orphan
              // that holder. Skip unless inode and path still agree.
              if (!live && ownsPath(ch, wh.resolve(ln)))
                Files.deleteIfExists(wh.resolve(ln))
            } finally lock.release()
          }
        } finally ch.close()
      }
  }

  /** Resolve the fingerprinted table names for `kinds` under `prefix`
    * for this (dir, corpus-files) snapshot; bind or build them if
    * this catalog doesn't serve them yet (see the protocol above).
    * `buckets` maps a kind to its (key, numBuckets) spec so a re-bind
    * preserves the bucketed layout. `fpTables` names the SOURCE files
    * whose metadata keys the fingerprint — a store derived from
    * embeddings.parquet must go stale when embeddings.parquet is
    * regenerated even if documents.parquet is untouched (the backfill
    * hazard: an old index silently served against new vectors).
    * Returns the names in `kinds` order. */
  def ensure(spark: SparkSession, prefix: String, dir: String,
             kinds: Seq[String],
             buckets: Map[String, (String, Int)] = Map.empty,
             layoutVersion: String = "",
             fpTables: Seq[String] = Seq("documents.parquet"))
            (build: Seq[String] => Unit): Seq[String] =
    this.synchronized {
      // Registration gate (round 19, VERDICT r18 #5): every
      // production store family must be in [[FamilyRegistry]] so the
      // repair-coverage audit can drill its serve path — an
      // unregistered family fails its FIRST ensure, so the registry
      // cannot go stale. Test-scoped stores use non-`graft_` prefixes.
      require(!prefix.startsWith("graft_") ||
          FamilyRegistry.isRegistered(prefix),
        s"store family '$prefix' is not registered in " +
          "graft.plans.FamilyRegistry — add an entry (with its serve " +
          "path and appendability) so the repair-coverage audit covers it")
      val tag = dirTag(dir)
      // A LAYOUT version participates in the fingerprint: a code
      // change to the store's on-disk shape must behave exactly like
      // a corpus change — the stale-incarnation sweep below then
      // retires the old layout instead of binding it.
      val fp = fpTables.map(t => fingerprint(spark, dir, t)).mkString +
        (if (layoutVersion.isEmpty) "" else s"v$layoutVersion")
      val names = kinds.map(k => s"${prefix}_${k}_${tag}_$fp")
      val wh = warehouse(spark)
      val marker = wh.resolve(s"${prefix}_${tag}_$fp.committed")
      if (names.forall(spark.catalog.tableExists) && Files.exists(marker))
        return names
      Files.createDirectories(wh)
      val lockPath = wh.resolve(s"${prefix}_$tag.lock")
      // Acquire with the [[ownsPath]] handshake: a sweep may have
      // unlinked the path between our open and lock — retry on a
      // fresh channel until the locked inode is the path's inode.
      var ch: FileChannel = null
      var lock: java.nio.channels.FileLock = null
      var spins = 0
      while (lock == null) {
        spins += 1
        require(spins <= 1000, s"lock handshake livelock on $lockPath")
        ch = FileChannel.open(lockPath,
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        val l = ch.lock() // blocks until any other process's build ends
        if (ownsPath(ch, lockPath)) lock = l
        else { l.release(); ch.close() }
      }
      try {
        try {
          // Re-check under the lock: another process may have
          // committed while this one waited.
          if (!(names.forall(spark.catalog.tableExists) && Files.exists(marker))) {
            // The LIVE fingerprint's admission logs are part of the
            // family, not a stale incarnation (ADVICE r14 high):
            // `<name>_admlog` startsWith `<prefix>_<kind>_<tag>` but is
            // never in `names`, so without the exemption every
            // fresh-session re-bind would deleteTree the current log —
            // destroying the torn-intent record BEFORE scrub can run,
            // and restarting adm_ids at 0 against data rows still
            // tagged with the old ids (a later scrub would then delete
            // COMMITTED rows). Old fingerprints' logs remain stale and
            // are retired with their family.
            val live = names.toSet ++ names.map(AdmitLog.logTableOf)
            def stale(t: String): Boolean =
              kinds.exists(k => t.startsWith(s"${prefix}_${k}_$tag")) &&
                !live.contains(t)
            // Evict stale same-dir-tag incarnations: catalog entries,
            // warehouse directories, and their markers.
            spark.catalog.listTables().collect()
              .map(_.name).filter(stale)
              .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
            listDir(wh).foreach { d =>
              val n = d.getFileName.toString
              if (stale(n) || (n.startsWith(s"${prefix}_$tag") &&
                  n.endsWith(".committed") && n != marker.getFileName.toString))
                deleteTree(d)
            }
            val unbound = names.filterNot(spark.catalog.tableExists)
            if (Files.exists(marker) &&
                names.forall(n => Files.isDirectory(wh.resolve(n)))) {
              // Read-repair BEFORE binding (VERDICT r17 #1): bind's
              // schema inference reads a parquet footer, so a torn
              // part another process's killed APPEND left behind
              // would fail the bind itself — quarantine first; the
              // family's row-level replay then excises the torn
              // admission's surviving rows after the bind.
              (names ++ names.map(AdmitLog.logTableOf)).foreach(
                ReadRepair.repairTable(spark, _))
              // Committed by another process — bind, don't rebuild.
              unbound.foreach { n =>
                bind(spark, n, wh.resolve(n),
                  buckets.get(kinds(names.indexOf(n))))
              }
              // Re-bind any admission log the family carries: a fresh
              // catalog that binds the data but forgets the log would
              // (a) skip the torn-intent scrub (torn() is Nil on an
              // unbound table) and (b) let the next begin()'s
              // ensureLog clear the live log and restart adm_ids at 0
              // against rows still tagged with the old ids.
              names.map(AdmitLog.logTableOf)
                .filter(l => Files.isDirectory(wh.resolve(l)) &&
                  !spark.catalog.tableExists(l))
                .foreach(l => bind(spark, l, wh.resolve(l), None))
            } else {
              // Nothing committed for this fingerprint: clear any
              // half-built orphans (a dead JVM's uncommitted dirs, or
              // a bound-but-unmarked table from a crash between
              // CREATE and commit), build, then commit. The family's
              // admission logs are cleared too — a rebuilt store
              // starts a fresh log (the AdmitLog contract); leaving a
              // prior incarnation's log would let its torn intents
              // scrub the freshly built tables.
              Files.deleteIfExists(marker)
              val toClear = names ++ names.map(AdmitLog.logTableOf)
              toClear.filter(spark.catalog.tableExists)
                .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
              toClear.map(wh.resolve(_)).foreach(deleteTree)
              build(names)
              val tmp = Files.createTempFile(wh, marker.getFileName.toString, ".tmp")
              Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
            }
          }
        } finally lock.release()
      } finally ch.close()
      names
    }
}
