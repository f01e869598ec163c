package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.{Engine, Tables}
import graft.plans.ReadRepair
import graft.queries._
import graft.sources.TextCorpus
import graft.streaming.S12bStreamDeltaDedupStore

/** JVM side of the benchmark (see perfbench/README.md). One process
  * runs one workload in one mode and writes a JSON result file that
  * `perfbench/run.py` checks and turns into metrics:
  *
  *  - `run`:   set-up, the first (cold) pass, then warm passes for the
  *             given number of seconds; every pass writes its outputs.
  *  - `setup`: set-up only (the extra set-up samples of a run).
  *  - `trace`: listeners on, one call per job group, lazy calls forced
  *             with a `noop` write; reports spans and per-layer counts.
  *
  * Arguments are `key=value`: workload, mode, input, work, seconds,
  * t0us (launch time, epoch µs), out, nproc.
  */
object PerfBench {
  final case class Opts(workload: String, mode: String, input: String,
      work: String, seconds: Double, t0us: Long, out: String, nproc: Int)

  type Res = mutable.LinkedHashMap[String, Any]

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def timed[A](f: => A): (A, Double) = {
    val t = System.nanoTime
    val a = f
    (a, (System.nanoTime - t) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `f` under Spark job group `g`; returns its wall seconds. */
  def inGroup(spark: SparkSession, g: String)(f: => Unit): Double = {
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    try timed(f)._2 finally spark.sparkContext.clearJobGroup()
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** (bytes, files) under `p`, checksum and marker files excluded. */
  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter { f =>
          val n = f.getFileName.toString
          Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
        }.toVector
        (files.map(Files.size).sum, files.size.toLong)
      } finally s.close()
    }

  /** Every node of an executed plan, through adaptive and reused stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case r: ReusedExchangeExec => r +: planNodes(r.child)
    case other => other +: other.children.flatMap(planNodes)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val o = Opts(kv("workload"), kv("mode"), kv("input"), kv("work"),
      kv("seconds").toDouble, kv("t0us").toLong, kv("out"), kv("nproc").toInt)
    val wl: Workload = o.workload match {
      case "cli_index"    => new CliIndex(o)
      case "store_ingest" => new StoreIngest(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val res: Res = mutable.LinkedHashMap.empty
    val (spark, sessionS) = timed(wl.session())
    wl.bind(spark)
    res("setup_s") = (nowUs - o.t0us) / 1e6
    res("engine.session_s") = sessionS
    // The process ends with halt: the caller deletes the run directory,
    // so nothing is left for a clean Spark shutdown to do, and an error
    // must not leave Spark's non-daemon threads holding the JVM up.
    try {
      o.mode match {
        case "setup" => ()
        case "run"   => wl.run(spark, res)
        case "trace" => wl.trace(spark, res)
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      }
      res("passes") = wl.passes
      res("outputs") = wl.outputs
      res("oracle_sql") = wl.oracles
      res("env") = Map(
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "java" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "default_parallelism" -> spark.sparkContext.defaultParallelism)
      res("peak_rss_mb") = peakRssMb
      Files.write(Paths.get(o.out), Json.render(res).getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
    }
    Runtime.getRuntime.halt(0)
  }
}

import PerfBench._

/** One workload: how to open its session, bind its inputs, run one
  * pass, and decompose a pass into spans for the traced run. */
abstract class Workload(val o: Opts) {
  def session(): SparkSession
  def bind(spark: SparkSession): Unit
  /** One pass writing its outputs under [[outDir]]`(i)`. */
  def pass(spark: SparkSession, i: Int): Unit
  /** Query name → DuckDB oracle SQL for the outputs a pass writes. */
  def oracles: Map[String, String] = Map.empty
  /** Work done before the first pass (a store build); seconds. */
  def prepare(spark: SparkSession, res: Res): Double = 0.0
  /** Per-layer spans over an already-warm session (traced run). */
  def spans(spark: SparkSession, tr: Trace, res: Res): Unit

  def outDir(i: Int): Path = Paths.get(o.work, "out", s"pass$i")
  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Every output the checks compare: query, path, input corpus. */
  val outputs = mutable.ArrayBuffer.empty[Map[String, String]]

  def output(query: String, path: Path, corpus: String): Unit =
    outputs += Map("query" -> query, "path" -> path.toString, "corpus" -> corpus)

  def timedPass(spark: SparkSession, i: Int, kind: String): Double = {
    val (_, s) = timed(pass(spark, i))
    System.err.println(f"[perfbench] ${o.workload} pass $i ($kind) $s%.3f s")
    passes += Map("i" -> i, "kind" -> kind, "wall_s" -> s)
    s
  }

  /** Set-up is done; the first pass, one warm-up pass (the JIT is still
    * compiling the pass's code), then measured warm passes until the
    * time budget is spent and at least three exist. */
  def run(spark: SparkSession, res: Res): Unit = {
    val prep = prepare(spark, res)
    res("first_pass_s") = prep + timedPass(spark, 0, "first")
    timedPass(spark, 1, "warmup")
    val t0 = System.nanoTime
    var i = 2
    while ((System.nanoTime - t0) / 1e9 < o.seconds || i <= 4) {
      timedPass(spark, i, "warm")
      i += 1
    }
  }

  /** Traced run: cold pass, a warm-up and a warm pass without
    * listeners, one warm pass with them (the tracing overhead is the
    * difference of the two warm passes), then the span decomposition. */
  def trace(spark: SparkSession, res: Res): Unit = {
    val tr = new Trace(spark)
    tr.register()
    var prep = 0.0
    inGroup(spark, "prepare") { prep = prepare(spark, res) }
    res("first_pass_s") = prep + timedPass(spark, 0, "first")
    tr.unregister()
    timedPass(spark, 1, "warmup")
    val untraced = timedPass(spark, 2, "warm")
    tr.register()
    val traced = inGroup(spark, "pass")(timedPass(spark, 3, "warm"))
    spans(spark, tr, res)
    tr.drain()
    val p = tr.group("pass")
    res("trace.pass_s") = traced
    res("trace.overhead") = traced / untraced - 1.0
    res("spark.task_s") = p.taskS
    res("spark.busy_share") = p.taskS / (traced * o.nproc)
    res("spark.gc_s") = p.gcS
    res("spark.spill_bytes") = p.spillBytes
    res("spark.tasks") = p.tasks
    res("spark.task_skew") = p.skew
    res("trace.groups") = tr.groups.map { case (g, s) =>
      g -> Map("jobs" -> s.jobs, "tasks" -> s.tasks, "task_s" -> s.taskS,
        "gc_s" -> s.gcS, "spill_bytes" -> s.spillBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "input_bytes" -> s.inputBytes, "input_records" -> s.inputRecords,
        "output_bytes" -> s.outputBytes, "task_skew" -> s.skew)
    }
  }
}

/** The reference's own job through the public CLI path. */
final class CliIndex(o: Opts) extends Workload(o) {
  private val manifest = Paths.get(o.input, "manifest.txt").toString
  private val half = math.max(1, o.nproc / 2)

  /** Sized as `Cli half half`: local[M+R], R shuffle partitions. */
  def session(): SparkSession = {
    val s = Engine.configure(SparkSession.builder()
      .master(s"local[${half + half}]")
      .appName("graft-tema1")
      .config("spark.sql.shuffle.partitions", half.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def bind(spark: SparkSession): Unit = TextCorpus.documents(spark, manifest).schema

  def pass(spark: SparkSession, i: Int): Unit = {
    TextCorpus.buildIndex(spark, manifest, outDir(i).toString)
    output("letters", outDir(i), "main")
  }

  def spans(spark: SparkSession, tr: Trace, res: Res): Unit = {
    res("sources.manifest_s") = timed(TextCorpus.manifestEntries(manifest))._2
    val docs = TextCorpus.documents(spark, manifest)
    val fScan = inGroup(spark, "sources.scan")(noop(docs))
    val idx = InvertedIndex.index(docs)
    val fIdx = inGroup(spark, "queries.index")(noop(idx))
    val sinkDir = Paths.get(o.work, "out", "trace_sink")
    val fSink = inGroup(spark, "sources.sink")(
      TextCorpus.writeLetterFilesFromIndex(idx, sinkDir.toString))
    output("letters", sinkDir, "main")
    var row: org.apache.spark.sql.Row = null
    inGroup(spark, "counts") { row = idx.agg(count(lit(1)), sum(col("df"))).head() }
    tr.drain()
    res("sources.scan_s") = fScan
    res("sources.scan_bytes") = tr.group("sources.scan").inputBytes
    res("sources.scan_rows") = tr.group("sources.scan").inputRecords
    res("queries.index_s") = fIdx - fScan
    res("queries.index_words") = row.getLong(0)
    res("queries.index_pairs") = row.getLong(1)
    res("queries.index_shuffle_bytes") = tr.group("queries.index").shuffleWriteBytes
    res("sources.sink_s") = fSink - fIdx
    val (bytes, files) = dirBytes(sinkDir)
    res("sources.sink_bytes") = bytes
    res("sources.sink_files") = files
    res("trace.spans_s") = res("sources.manifest_s").asInstanceOf[Double] + fSink
  }
}

/** Store-backed delta ingest over a generated `documents` table: the
  * q57b signature store is built from the train split, and a pass is
  * the test-split delta through the batch serve. The traced run adds
  * the streaming twin (s12b), the append of the delta (admit), a
  * re-bind of the committed store, and the batch curation pass (q18b,
  * q18f, q42b with its q18g labels store) over the `curation` slice. */
final class StoreIngest(o: Opts) extends Workload(o) {
  private val dir = o.input
  private val curationDir = Paths.get(o.input, "curation").toString
  private val prefix = "graft_sigstore"
  private var tables: (String, String) = null
  private val curation = Seq(Q18bDedupMinHash, Q18fDedupClusters, Q42bCorpusCleanFull)

  override def oracles: Map[String, String] =
    (Seq(Q57bDeltaDedupStore, S12bStreamDeltaDedupStore) ++ curation)
      .map(q => q.name -> q.oracle.get).toMap

  def session(): SparkSession = Engine.session(o.nproc)
  def bind(spark: SparkSession): Unit = Tables.documents(spark, dir).schema

  private def write(df: DataFrame, path: Path, query: String, corpus: String): Unit = {
    df.write.mode("overwrite").parquet(path.toString)
    output(query, path, corpus)
  }

  private def warehouse(spark: SparkSession): Path = graft.plans.Stores.warehouse(spark)

  private def committed(spark: SparkSession, prefix: String): Boolean = {
    val wh = warehouse(spark)
    Files.isDirectory(wh) && {
      val s = Files.list(wh)
      try s.iterator().asScala.map(_.getFileName.toString)
        .exists(n => n.startsWith(prefix + "_") && n.endsWith(".committed"))
      finally s.close()
    }
  }

  /** Run `ensure`, recording under `key` whether it built the store or
    * bound one committed before it (which would mean the run was not
    * isolated, and its build time measured a bind). */
  private def ensureTimed[A](spark: SparkSession, prefix: String, res: Res, key: String)
      (ensure: => A): (A, Double) = {
    val before = committed(spark, prefix)
    val (names, s) = timed(ensure)
    res(key) = if (!before && committed(spark, prefix)) "built" else "bound"
    (names, s)
  }

  /** (doc_id, sh) distinct word 3-shingles, the dedup input shape. */
  private def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(NorthStar.toksExpr).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        expr(NorthStar.let("t", "t", NorthStar.shinglesExpr)).as("sh"))

  override def prepare(spark: SparkSession, res: Res): Double = {
    val (_, s) = ensureTimed(spark, prefix, res, "store")(
      inGroup(spark, "plans.store_build") {
        tables = Q57bDeltaDedupStore.ensureStore(spark, dir)
      })
    res("plans.store_build_s") = s
    val (b1, f1) = dirBytes(warehouse(spark).resolve(tables._1))
    val (b2, f2) = dirBytes(warehouse(spark).resolve(tables._2))
    res("plans.store_bytes") = b1 + b2
    res("plans.store_files") = f1 + f2
    s
  }

  def pass(spark: SparkSession, i: Int): Unit =
    write(Q57bDeltaDedupStore.run(spark, dir),
      outDir(i).resolve(Q57bDeltaDedupStore.name), Q57bDeltaDedupStore.name, "main")

  def spans(spark: SparkSession, tr: Trace, res: Res): Unit = {
    val (bandsT, exactT) = tables
    val delta = Tables.documents(spark, dir)
      .filter(Q40TrainTestSplit.splitCol === "test")
    val fScan = inGroup(spark, "tables.scan")(noop(delta))
    val fRepair = inGroup(spark, "plans.read_repair") {
      ReadRepair.repairTable(spark, bandsT)
      ReadRepair.repairTable(spark, exactT)
    }
    var serve: DataFrame = null
    val fServe = inGroup(spark, "queries.delta_serve") {
      serve = Q57bDeltaDedupStore.run(spark, dir)
      noop(serve)
    }
    val fStream = inGroup(spark, "streaming.serve")(
      write(S12bStreamDeltaDedupStore.run(spark, dir),
        Paths.get(o.work, "out", "stream", S12bStreamDeltaDedupStore.name),
        S12bStreamDeltaDedupStore.name, "main"))
    val dbands = Q18bDedupMinHash.signatures(shingles(delta))
      .select(col("doc_id").as("delta_id"),
        explode(expr(NorthStar.let("sg", "sig", NorthStar.bandKeysExpr("sg")))).as("bkey"))
    var nCand = 0L
    inGroup(spark, "counts") {
      nCand = dbands.join(spark.table(bandsT)
          .select(col("bkey"), col("doc_id").as("cand")), "bkey")
        .dropDuplicates("delta_id", "cand").count()
    }
    val verdicts = spark.read.parquet(
        outDir(3).resolve(Q57bDeltaDedupStore.name).toString)
      .groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    admit(spark, res)
    rebind(spark, res)
    curationSpans(spark, tr, res)
    tr.drain()
    res("tables.scan_s") = fScan
    res("tables.spread_partitions") = delta.queryExecution.toRdd.getNumPartitions
    res("plans.read_repair_s") = fRepair
    res("queries.delta_serve_s") = fServe - fScan - fRepair
    res("queries.delta_band_candidates") = nCand
    res("queries.serve_store_exchanges") = storeSideExchanges(serve, bandsT)
    res("queries.verdicts_exact") = verdicts.getOrElse("exact_dup", 0L)
    res("queries.verdicts_near") = verdicts.getOrElse("near_dup", 0L)
    res("queries.verdicts_new") = verdicts.getOrElse("new", 0L)
    res("streaming.serve_s") = fStream
    res("streaming.batches") = tr.streamBatches
    res("streaming.state_bytes") = tr.streamStateBytes
    res("trace.spans_s") = fServe
  }

  /** Append the last serve's `new` documents to the store, then serve
    * the same delta again (every verdict must now be a dup). */
  private def admit(spark: SparkSession, res: Res): Unit = {
    val (bandsT, exactT) = tables
    val fresh = spark.read.parquet(outDir(3).resolve(Q57bDeltaDedupStore.name).toString)
      .filter(col("verdict") === "new").select(col("doc_id"))
    val docs = Tables.documents(spark, dir).join(fresh, "doc_id").localCheckpoint()
    val admitted = docs.count()
    val before = spark.table(exactT).count()
    val s = inGroup(spark, "queries.admit")(
      Q57bDeltaDedupStore.admit(spark, docs, bandsT, exactT))
    spark.catalog.refreshTable(exactT)
    val after = spark.table(exactT).count()
    val reserve = Paths.get(o.work, "out", "reserve", Q57bDeltaDedupStore.name)
    Q57bDeltaDedupStore.run(spark, dir).write.parquet(reserve.toString)
    res("queries.admit_s") = s
    res("admit") = Map("admitted" -> admitted, "store_rows_before" -> before,
      "store_rows_after" -> after, "reserve_dir" -> reserve.toString)
  }

  /** Forget the store tables (keeping their files), then time the
    * `ensure` that re-binds the committed store. */
  private def rebind(spark: SparkSession, res: Res): Unit = {
    import org.apache.spark.sql.catalyst.catalog.CatalogTableType
    val cat = spark.sharedState.externalCatalog
    Seq(tables._1, tables._2).foreach { t =>
      cat.alterTable(cat.getTable("default", t).copy(tableType = CatalogTableType.EXTERNAL))
      spark.sql(s"DROP TABLE $t")
    }
    val (_, s) = ensureTimed(spark, prefix, res, "rebind")(
      inGroup(spark, "plans.store_bind")(Q57bDeltaDedupStore.ensureStore(spark, dir)))
    res("plans.store_bind_s") = s
  }

  /** The batch curation pass over the `curation` slice, one span per
    * public call; outputs are written (the forcing action) and checked. */
  private def curationSpans(spark: SparkSession, tr: Trace, res: Res): Unit = {
    val (_, build) = ensureTimed(spark, "graft_lblstore", res, "labels_store")(
      inGroup(spark, "plans.labels_store_build")(
        Q18gDedupLabelsStore.ensureStore(spark, curationDir)))
    val docs = Tables.documents(spark, curationDir)
    val fScan = inGroup(spark, "curation.scan")(noop(docs))
    val fSig = inGroup(spark, "queries.signatures")(
      noop(Q18bDedupMinHash.signatures(shingles(docs))))
    def call(group: String, q: graft.queries.GraftQuery): Double = inGroup(spark, group)(
      write(q.run(spark, curationDir), Paths.get(o.work, "out", "curation", q.name),
        q.name, "curation"))
    val fPairs = call("queries.minhash_pairs", Q18bDedupMinHash)
    val fClusters = call("queries.clusters", Q18fDedupClusters)
    val fClean = call("queries.clean_audit", Q42bCorpusCleanFull)
    tr.drain()
    res("plans.labels_store_build_s") = build
    res("queries.signatures_s") = fSig - fScan
    res("queries.minhash_pairs_s") = fPairs - fSig
    res("queries.clusters_s") = fClusters - fScan
    res("queries.cluster_jobs") = tr.group("queries.clusters").jobs
    res("queries.clean_audit_s") = fClean - fScan
    // observe() counts below a global sort are an exact multiple of one
    // pass (the sort's sampling re-runs the subtree); divide by that
    // multiple, known from the output's row count.
    val verified = spark.read.parquet(
      Paths.get(o.work, "out", "curation", Q18bDedupMinHash.name).toString).count()
    val cand = tr.observed.get("q18b_band_stats").flatMap(_.get("candidate_pairs"))
    val ver = tr.observed.get("q18b_verify_stats").flatMap(_.get("verified_pairs"))
    val k = ver.filter(_ > 0).map(_.toDouble / math.max(1L, verified)).getOrElse(1.0)
    res("queries.band_candidates") = cand.map(c => math.round(c / k)).getOrElse(0L)
    res("queries.verified_pairs") = verified
    res("queries.verify_yield") = cand.filter(_ > 0).map(c => verified / (c / k)).getOrElse(0.0)
  }

  /** Shuffles under the store side of the band-key join (expected 0:
    * the store is bucketed by `bkey`). */
  private def storeSideExchanges(df: DataFrame, bandsT: String): Long = {
    val nodes = planNodes(df.queryExecution.executedPlan)
    def isBandJoin(p: SparkPlan): Boolean = p match {
      case j: SortMergeJoinExec     => j.leftKeys.exists(_.toString.contains("bkey"))
      case j: ShuffledHashJoinExec  => j.leftKeys.exists(_.toString.contains("bkey"))
      case j: BroadcastHashJoinExec => j.leftKeys.exists(_.toString.contains("bkey"))
      case _ => false
    }
    val storeSides = nodes.filter(isBandJoin).flatMap(_.children.filter(c =>
      planNodes(c).exists {
        case f: FileSourceScanExec => f.tableIdentifier.exists(_.table == bandsT)
        case _ => false
      }))
    storeSides.map(s => planNodes(s).count(_.isInstanceOf[ShuffleExchangeLike]).toLong).sum
  }
}
