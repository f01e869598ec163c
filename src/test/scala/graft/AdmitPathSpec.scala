package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{AdmitLog, Bucketing, ReadRepair, Stores, TornAppendDrill}
import graft.queries.{Q57bDeltaDedupStore, Q60dExciseStore, Q74bBm25Store}
import graft.streaming.{S12bStreamDeltaDedupStore, S20StreamExcise}

/** The one admission path ([[AdmitLog.admit]]) on the two families
  * that used to append without the admission log — q57b's signature
  * store and q60d's span store:
  *  - their streaming twins (s12b, s20) resolve the store through the
  *    same `ensureStore`, so a SIGKILLed admit's torn part cannot
  *    fail them;
  *  - a crashed admit is scrubbed by the next `ensureStore`, and its
  *    replay lands exactly once;
  *  - an admit adds at most one file per bucket, whatever the input
  *    spread of the delta. */
class AdmitPathSpec extends SparkSpec {
  import spark.implicits._

  private def wh = Stores.warehouse(spark)

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** A two-document corpus: doc 1 is train (seeds the store), doc 8
    * is test (the served delta) under the q40 md5-nibble split. */
  private def tinyCorpus(tag: String): Path = {
    val dir = Files.createTempDirectory(tag)
    val base = (1 to 12).map(i => s"seed$i").mkString(" ")
    val novel = (1 to 12).map(i => s"novel$i").mkString(" ")
    Seq((1L, base, "en", "web", base.length.toLong),
        (8L, novel, "en", "web", novel.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Two arriving docs with ids outside the corpus, one repeating
    * the corpus's train document. */
  private val delta: Seq[(Long, String)] = Seq(
    2000001L -> (1 to 12).map(i => s"seed$i").mkString(" "),
    2000002L -> (1 to 12).map(i => s"fresh$i").mkString(" "))

  test("streaming twins are guarded: s12b and s20 serve the same rows after a SIGKILLed admit tore their store") {
    val twins = Seq(
      ("graft_sigstore", S12bStreamDeltaDedupStore: graft.queries.GraftQuery,
        () => Q57bDeltaDedupStore.ensureStore(spark, sf)._1),
      ("graft_spanstore", S20StreamExcise: graft.queries.GraftQuery,
        () => Q60dExciseStore.ensureStore(spark, sf)))
    twins.foreach { case (prefix, twin, resolve) =>
      try {
        val target = resolve()
        val before = rowsOf(twin.run(spark, sf))
        // The state a SIGKILLed admit leaves: intent open, part torn.
        TornAppendDrill.sigkill(prefix, sf, wh)
        assert(TornAppendDrill.tornParts(spark, wh.resolve(target)).nonEmpty,
          s"$prefix drill staged no torn part under $target")
        assert(rowsOf(twin.run(spark, sf)) == before,
          s"${twin.name} diverged after the torn admit")
        assert(TornAppendDrill.tornParts(spark, wh.resolve(target)).isEmpty,
          s"${twin.name}: torn part survived the serve")
        assert(Files.isDirectory(
          wh.resolve(target + ReadRepair.QuarantineSuffix)),
          s"${twin.name}: torn part was not quarantined")
        assert(AdmitLog.torn(spark, AdmitLog.logTableOf(target)).isEmpty,
          s"${twin.name}: torn intent unresolved")
      } finally Stores.evict(spark, prefix)
    }
  }

  test("q57b admit is exactly-once: a crashed admit is scrubbed by the next ensure, its replay lands once") {
    val clean = tinyCorpus("admit-q57b-clean")
    val crashed = tinyCorpus("admit-q57b-crash")
    def state(dir: Path, bandsT: String, exactT: String) =
      (spark.table(bandsT).count(), spark.table(exactT).count(),
        rowsOf(Q57bDeltaDedupStore.run(spark, dir.toString)))
    try {
      val docs = delta.toDF("doc_id", "text")
      val (cb, ce) = Q57bDeltaDedupStore.ensureStore(spark, clean.toString)
      Q57bDeltaDedupStore.admit(spark, docs, cb, ce)
      val want = state(clean, cb, ce)

      for (k <- Seq(1, 2)) {
        val (bandsT, exactT) = Q57bDeltaDedupStore.ensureStore(spark, crashed.toString)
        val seeded = (spark.table(bandsT).count(), spark.table(exactT).count())
        intercept[RuntimeException] {
          Q57bDeltaDedupStore.admit(spark, docs, bandsT, exactT,
            injectCrashAfter = k)
        }
        val logT = AdmitLog.logTableOf(bandsT)
        assert(AdmitLog.torn(spark, logT).nonEmpty, s"k=$k: no torn intent")
        assert(Q57bDeltaDedupStore.ensureStore(spark, crashed.toString) ==
          ((bandsT, exactT)))
        assert(AdmitLog.torn(spark, logT).isEmpty, s"k=$k: intent unresolved")
        assert((spark.table(bandsT).count(), spark.table(exactT).count()) ==
          seeded, s"k=$k: the crashed admit's rows survived the scrub")
        if (k == 2) {
          Q57bDeltaDedupStore.admit(spark, docs, bandsT, exactT)
          assert(state(crashed, bandsT, exactT) == want,
            "replayed admit differs from an admit that never crashed")
        }
      }
    } finally {
      Stores.evict(spark, "graft_sigstore")
      Seq(clean, crashed).foreach(Stores.deleteTree)
    }
  }

  test("span store admit is exactly-once: a crashed admit is scrubbed by the next ensure, its replay lands once") {
    val clean = tinyCorpus("admit-span-clean")
    val crashed = tinyCorpus("admit-span-crash")
    def state(dir: Path, spansT: String) =
      (spark.table(spansT).count(),
        rowsOf(Q60dExciseStore.run(spark, dir.toString)))
    try {
      val docs = delta.toDF("doc_id", "text")
      val cs = Q60dExciseStore.ensureStore(spark, clean.toString)
      Q60dExciseStore.admit(spark, docs, cs)
      val want = state(clean, cs)

      val spansT = Q60dExciseStore.ensureStore(spark, crashed.toString)
      val seeded = spark.table(spansT).count()
      intercept[RuntimeException] {
        Q60dExciseStore.admit(spark, docs, spansT, injectCrashAfter = 1)
      }
      val logT = AdmitLog.logTableOf(spansT)
      assert(AdmitLog.torn(spark, logT).nonEmpty, "no torn intent")
      assert(Q60dExciseStore.ensureStore(spark, crashed.toString) == spansT)
      assert(AdmitLog.torn(spark, logT).isEmpty, "intent unresolved")
      assert(spark.table(spansT).count() == seeded,
        "the crashed admit's rows survived the scrub")
      Q60dExciseStore.admit(spark, docs, spansT)
      assert(state(crashed, spansT) == want,
        "replayed admit differs from an admit that never crashed")
      assert(want._1 > seeded, "the admit appended nothing — vacuous")
    } finally {
      Stores.evict(spark, "graft_spanstore")
      Seq(clean, crashed).foreach(Stores.deleteTree)
    }
  }

  test("an admit adds at most one file per bucket to each store table, whatever the delta's input spread") {
    // Reduce-side partitions are not coalesced, so every stage of the
    // admit frames runs wide: a bucketBy append would write up to
    // (tasks × buckets) files.
    withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val dir = tinyCorpus("admit-files")
      val docs = Tables.documents(spark, sf)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
        .repartition(4).localCheckpoint()
      assert(docs.rdd.getNumPartitions >= 4)
      def grows(tables: Seq[String])(admit: => Unit): Seq[(String, Int, Int)] = {
        val before = tables.map(Bucketing.dataFileCount(spark, _))
        admit
        tables.zip(before).map { case (t, b) =>
          (t, Bucketing.dataFileCount(spark, t) - b, Bucketing.specOf(spark, t)._2)
        }
      }
      try {
        val (bandsT, exactT) = Q57bDeltaDedupStore.ensureStore(spark, dir.toString)
        val (postT, lenT, metaT) = Q74bBm25Store.ensureStore(spark, dir.toString)
        val added =
          grows(Seq(bandsT, exactT))(
            Q57bDeltaDedupStore.admit(spark, docs, bandsT, exactT)) ++
          grows(Seq(postT, lenT))(
            Q74bBm25Store.admit(spark, docs, postT, lenT, metaT))
        added.foreach { case (t, n, buckets) =>
          assert(n > 0, s"$t gained no file — vacuous")
          assert(n <= buckets, s"$t gained $n files from one admit (> $buckets buckets)")
        }
      } finally {
        Stores.evict(spark, "graft_sigstore")
        Stores.evict(spark, "graft_bm25store")
        Stores.deleteTree(dir)
      }
    }
  }
}
