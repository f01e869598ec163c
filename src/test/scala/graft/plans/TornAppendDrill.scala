package graft.plans

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** DURABILITY DRILL (VERDICT r17 next #1): a separate-JVM `main` that
  * reproduces, deterministically, the on-disk state a hard-killed
  * append leaves behind — then waits to be SIGKILLed by the driving
  * spec (Round18Spec, Round19Spec) through [[sigkill]]. One drill per
  * append family:
  *
  *  - `bm25`  — the [[graft.queries.Q74bBm25Store]] admission path
  *    (s23's batch twin): the drill opens a REAL admission
  *    ([[AdmitLog.begin]] → postings append committed, via the
  *    store's own `admit` with its injection hook), then tears the
  *    in-flight LENGTHS append — a part file half-written when the
  *    kill lands. Recovery needs both halves of the protocol: the
  *    [[ReadRepair]] quarantine (the torn file) and the
  *    [[AdmitLog.scrub]] row excision (the committed postings of the
  *    uncommitted admission).
  *  - `span`  — [[graft.queries.Q60dExciseStore]] (s20's target; the
  *    family the hazard was OBSERVED on in round 17): an admission
  *    intent is open and the kill lands while the FIRST part file of
  *    its append is mid-write. Recovery is the intent-gated scrub in
  *    the store's `ensureStore`: the quarantine, then no rows left to
  *    excise.
  *  - `ann`   — [[graft.queries.Q19eAnnIvfStore]]'s lists table
  *    (s19's ingest target): torn part inside a PROBED list_id
  *    partition, so the serve's partition-scoped repair must catch
  *    it on the pruned path it actually reads.
  *
  * The torn file is written BY THIS PROCESS (a prefix of a real part
  * file — exactly what truncation at kill time produces), the file
  * handle stays open, and the process then parks until the spec
  * SIGKILLs it: the bytes on disk are genuinely those of a writer
  * that never finished. Protocol on stdout: `TORN_READY` once the
  * state is staged; the spec kills on reading it. */
object TornAppendDrill {

  /** Fork the drill for `family` against `warehouse`, wait for its
    * TORN_READY, SIGKILL it, and reap. Returns only once the child is
    * dead with the torn state on disk. `extraArgs` follow the three
    * common ones (the epoch drill's scratch dir). */
  def sigkill(family: String, corpusDir: String, warehouse: Path,
      extraArgs: Seq[String] = Nil): Unit =
    ChildJvm.runUntil("graft.plans.TornAppendDrill",
      Seq(family, corpusDir, warehouse.toString) ++ extraArgs, "TORN_READY")

  /** The part files under `root` that [[ReadRepair.isTorn]] flags. */
  def tornParts(spark: SparkSession, root: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val fs = new org.apache.hadoop.fs.Path(root.toUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val s = Files.walk(root)
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_") &&
        ReadRepair.isTorn(fs,
          fs.getFileStatus(new org.apache.hadoop.fs.Path(p.toUri)))
    }.toVector
    finally s.close()
  }

  /** Stage a torn part file in `dir`: a prefix of an existing
    * committed part under the same directory tree, written under a
    * fresh part-style name (bucket suffix cloned from the donor so a
    * bucketed scan would really read it), handle LEFT OPEN. */
  private def stageTornPart(dir: Path): Path = {
    import scala.jdk.CollectionConverters._
    val donor = {
      val s = Files.walk(dir)
      try {
        val parts = s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && n.endsWith(".parquet") &&
            !n.startsWith(".") && !n.startsWith("_")
        }.toVector
        require(parts.nonEmpty, s"no donor part file under $dir")
        parts.maxBy(Files.size(_))
      } finally s.close()
    }
    val bytes = Files.readAllBytes(donor)
    val cut = math.max(16, bytes.length / 2)
    // Clone the donor's name shape — `part-00000-<uuid><rest>` where
    // <rest> carries the bucket id / codec suffix a bucketed scan
    // keys on — under a fresh uuid, in the DONOR's own directory
    // (keeps partition-dir layouts intact).
    val donorName = donor.getFileName.toString
    val prefixLen = "part-00000-".length + 36 // Spark part uuids are 36 chars
    require(donorName.length > prefixLen, s"unexpected part name $donorName")
    val torn = donor.getParent.resolve(
      s"part-00001-${java.util.UUID.randomUUID()}" +
        donorName.substring(prefixLen))
    val out = new java.io.FileOutputStream(torn.toFile)
    out.write(bytes, 0, cut)
    out.flush()
    out.getFD.sync() // bytes on disk deterministically before the kill
    // handle intentionally left open: the writer never finished
    stagedHandles ::= out
    torn
  }
  private var stagedHandles: List[java.io.FileOutputStream] = Nil

  def main(args: Array[String]): Unit = {
    val Array(family, corpusDir, warehouseDir) = args.take(3)
    val spark = graft.Engine.configure(SparkSession.builder()
        .master("local[4]")
        .appName(s"torn-append-drill-$family")
        .config("spark.sql.warehouse.dir", warehouseDir)
        .config("spark.sql.shuffle.partitions", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wh = Stores.warehouse(spark)

    family match {
      case "bm25" =>
        import graft.queries.Q74bBm25Store
        val (postT, lenT, metaT) = Q74bBm25Store.ensureStore(spark, corpusDir)
        // A real admission, crashed after the postings append (the
        // store's own injection point 1): intent logged, postings
        // rows committed under the new adm_id, lengths/meta untouched,
        // NO commit row.
        val delta = spark.range(2).select(
          (col("id") + 900000000L).as("doc_id"),
          lit("torndrill zzqy xxqv zzqy").as("text"))
        try Q74bBm25Store.admit(spark, delta, postT, lenT, metaT,
          injectCrashAfter = 1)
        catch { case _: RuntimeException => () }
        // ...and the lengths append is mid-file when the kill lands.
        stageTornPart(wh.resolve(lenT))

      case "span" =>
        import graft.queries.Q60dExciseStore
        val spansT = Q60dExciseStore.ensureStore(spark, corpusDir)
        // A torn part is only ever written inside an admission (the
        // registry case below does the same for every log-guarded
        // family).
        AdmitLog.begin(spark, AdmitLog.logTableOf(spansT))
        stageTornPart(wh.resolve(spansT))

      case "ann" =>
        import graft.queries.{Q19dAnnIvf, Q19eAnnIvfStore}
        val (centT, listsT) = Q19eAnnIvfStore.ensureStore(spark, corpusDir)
        val probed = Q19eAnnIvfStore.probesFor(spark, corpusDir, centT,
          Q19dAnnIvf.NProbe).head
        stageTornPart(wh.resolve(listsT).resolve(s"list_id=$probed"))

      case "epoch" =>
        // The STREAMING-EPOCH twin (s23's checkpointed ingest): drive
        // a maintainAppend over a 3-file delta (one file per trigger)
        // and die mid-epoch-1 — AFTER its data append, BEFORE its
        // commit marker, with one more part file half-written. The
        // stream offset for the batch never commits, so a restart
        // from the same checkpoint re-delivers the epoch; recovery is
        // quarantine + the guard's rows-without-marker scrub +
        // re-apply. args(3) = scratch dir holding delta/ and ckpt/.
        import graft.queries.Q74Bm25
        val scratch = args(3)
        val runT = "graft_drill_epochtab"
        Stores.dropManaged(spark, runT)
        Stores.dropManaged(spark,
          graft.streaming.StreamQueries.epochMarkerTable(runT))
        Q74Bm25.postingsOf(
            spark.read.parquet(s"$scratch/delta").limit(0))
          .withColumn("_epoch", lit(-1L))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(runT)
        val sch = spark.read.parquet(s"$scratch/delta").schema
        val stream = spark.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$scratch/delta/*.parquet")
        graft.streaming.StreamQueries.maintainAppend(spark, runT,
          stream, Some(s"$scratch/ckpt"),
          injectBeforeMarker = { e =>
            if (e == 1L) {
              stageTornPart(wh.resolve(runT))
              println("TORN_READY")
              Console.flush()
              Thread.sleep(600000) // parked mid-epoch: SIGKILLed here
            }
          })(Q74Bm25.postingsOf)

      case prefix if FamilyRegistry.families.exists(f =>
          f.prefix == prefix && f.appendable) =>
        // REGISTRY-DRIVEN drill (round 19, the Round18 hand-drilled
        // trio generalized): resolve the family's tables through its
        // own registry entry, open a REAL admission intent when the
        // family's recovery is AdmitLog-gated (scrub engages only on
        // a torn intent — exactly the state a killed `admit` leaves;
        // an intent-less torn part would be an unreachable state for
        // those families), then tear the append-target table. The
        // driving spec SIGKILLs us and must serve the family green.
        val fam = FamilyRegistry.families.find(_.prefix == prefix).get
        val tables = fam.tables(spark, corpusDir)
        require(fam.drillIdx < tables.size,
          s"$prefix drillIdx ${fam.drillIdx} out of ${tables.size} tables")
        if (fam.logGuarded)
          AdmitLog.begin(spark, AdmitLog.logTableOf(tables.head))
        stageTornPart(wh.resolve(tables(fam.drillIdx)))

      case other =>
        System.err.println(s"unknown drill family: $other")
        sys.exit(2)
    }

    println("TORN_READY")
    Console.flush()
    Thread.sleep(600000) // parked: the spec SIGKILLs us here
  }
}
