package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Fixture loaders (FIXTURES.md). One accessor per table so every query
  * reads through the same canonicalization — in particular the
  * nanosecond→microsecond truncation on `events.ts`, which must agree
  * exactly with the DuckDB oracle's ns→µs truncation.
  */
object Tables {
  /** All fixture reads force `inferTimestampNTZ=false` (see Engine):
    * the fixture's INT64 micros timestamps are epoch-µs UTC and must
    * surface as TIMESTAMP (LTZ), not TIMESTAMP_NTZ — set here as well
    * as in Engine.configure so the loaders work on any session,
    * including a driver-owned one. The conf is SCOPED to the read
    * (parquet schema inference is eager at `spark.read.parquet`), so
    * a caller reading genuinely-NTZ parquet after a fixture load
    * keeps its own inference setting. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    withConf(spark, Engine.InferNTZ, "false") {
      val path = s"$dir/$name.parquet"
      val state = Seq(graft.plans.Stores.fingerprint(spark, dir, s"$name.parquet"),
        spark.conf.getOption(Engine.NanosAsLong).getOrElse(""),
        spark.conf.get(Engine.InferNTZ)).mkString("|")
      val schema = schemas.get(path) match {
        case (`state`, known) => known
        case _ =>
          val inferred = spark.read.parquet(path).schema
          schemas.put(path, (state, inferred))
          inferred
      }
      spark.read.schema(schema).parquet(path)
    }

  /** The schema [[load]] inferred per fixture path, with the state it
    * was inferred from: the file listing's names, lengths and mtimes
    * (as [[graft.plans.Stores.fingerprint]] keys a store) and the two
    * inference confs the loaders set (nanosAsLong, inferTimestampNTZ),
    * each of which changes the inferred types. Inference is a
    * one-task Spark job per call (120–155 ms of a ~2 s warm q57b serve,
    * measured), while the schema only changes when the file does; a
    * rewritten file is inferred again, and each path keeps one entry. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (String, org.apache.spark.sql.types.StructType)]()

  /** Set a conf for the duration of `body`, restoring (or unsetting)
    * after. Fixture loads are session-sequential, so the save/restore
    * is not racing concurrent conf writers. */
  private def withConf[A](spark: SparkSession, key: String, value: String)
                         (body: => A): A = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Scale-adaptive scan spread (optimization guide §2.5/§6, r19).
    *
    * The fixture tables are each ONE parquet file with ONE row group,
    * and parquet reads split at row-group granularity — so every
    * pipeline whose heavy per-row work (tokenize/shingle/encode HOFs)
    * sits directly on the scan ran on ONE task of the 32 available
    * (measured: q64g 4.5 s wall with 4.3 s of task time in two
    * 1-task stages). A corpus at real scale has orders of magnitude
    * more row groups than cores, so this repartition is a measured
    * no-op there: it fires ONLY when the scan yields fewer splits
    * than `defaultParallelism` (derived from input layout, never a
    * constant). Hash-partitioning by the table's primary id (not
    * round-robin) lets downstream joins/groupBys on that id satisfy
    * their distribution from this exchange instead of adding one.
    * The exchange moves the raw fixture bytes once (~0.6 MB at
    * sf0.1) — repaid ~30× by parallel expression evaluation. */
  /** Spread width. Default is cores/4 (floor 4), NOT the full core
    * count: a composed audit (q42b: ~30 stages, several independent
    * branches scheduled concurrently) at full width oversubscribes —
    * 32-task stages × concurrent branches × allocation-heavy HOFs
    * inflated measured task time ~5× (GC + SMT contention; q42b wall
    * 4.2→2.8 s at width 8 vs 32). A query whose cost is ONE dominant
    * map stage has no such tax and wants every core — those opt in
    * via `wide` (q64g: 0.97 s at 32 vs 2.0 s at 8). The width sweep
    * is recorded in OPTIMIZATION_r19.md. */
  private def spreadN(df: DataFrame, wide: Boolean): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (wide) cores else math.max(4, cores / 4)
  }

  private[graft] def spread(df: DataFrame, key: String,
      wide: Boolean = false): DataFrame = {
    val n = spreadN(df, wide)
    if (df.queryExecution.toRdd.getNumPartitions >= n) df
    // explicit count, NOT repartition(col): an advisory-size exchange
    // over the sub-MB fixture would be AQE-coalesced straight back to
    // one partition (measured: the keyless form left every downstream
    // stage serial and only added the exchange's cost).
    else df.repartition(n, col(key))
  }

  /** POST-SHUFFLE CPU spread (guide §2.5 applied to exchange outputs,
    * r20): AQE coalesces reduce partitions by BYTES, so a byte-light
    * but CPU-dense frame (e.g. q72b's assembled WARC archives — a few
    * hundred KB of blobs whose parse fold costs ~1 s of CPU) collapses
    * to ONE task and its consumer runs serial on 1 of 32 cores; the
    * final sort's range sampling then re-executes that serial segment
    * a second time. An explicit keyed repartition restores the
    * parallelism. Guarded by the optimizer's size estimate: it fires
    * only when the frame is small enough that AQE's byte targeting
    * would starve it (< cores × the 1 MB coalesce floor × a 16×
    * safety factor) — at corpus scale the estimate is far larger, the
    * guard never fires, and no extra exchange of heavy payloads is
    * added. The guard is capped at [[SpreadCpuMaxBytes]] so that it
    * does not grow with the host: uncapped, a 128-core host would
    * re-shuffle a 2 GB frame. A global AQE-floor change was measured
    * instead and REJECTED: -DminPartitionSize=1k won exactly the two
    * CPU-dense rows (q72b −0.96 s, s20 −0.50 s) and taxed every other
    * row +0.3–1.2 s in 32-task launches over tiny shuffles. */
  private[graft] def spreadCpu(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // Guard on the LEAF scans' size estimate, not the frame's own:
    // aggregate/codegen width estimates inflate multiplicatively and
    // would mask a KB-scale frame (measured: q72b's archive agg
    // estimated > 512 MB over a 0.6 MB scan, so the spread never
    // fired). The leaves bound the real payload — an aggregation
    // cannot emit more bytes than it read (modulo small constants).
    val est = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (est > spreadCpuLimit(cores)) df
    // Round-robin with an EXPLICIT count, not keyed: a keyed
    // repartition matching the upstream groupBy's keys is elided by
    // EnsureRequirements (the agg output already satisfies it) and the
    // surviving exchange is AQE-coalesced right back to one task —
    // measured on q72b, the plan came out unchanged. Round-robin is
    // never elided, an explicit count is never coalesced, and the
    // default sort-before-repartition keeps it retry-deterministic
    // (guide §2.5).
    else df.repartition(cores)
  }

  /** Absolute ceiling of the [[spreadCpu]] guard: 64 MB, the guard's
    * value on 4 cores, so hosts up to 4 cores keep the rule unchanged.
    * The frames the rule exists for are KB–MB scale (q72b's archives:
    * a few hundred KB). */
  private[graft] val SpreadCpuMaxBytes: Long = 64L << 20

  /** Leaf-size estimate above which [[spreadCpu]] leaves a frame
    * alone: cores × 16 MB, capped at [[SpreadCpuMaxBytes]]. */
  private[graft] def spreadCpuLimit(cores: Int): BigInt =
    BigInt(math.min(cores.toLong << 24, SpreadCpuMaxBytes))

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  =
    documents(s, d, wide = false)
  /** `wide = true`: full-core spread for single-dominant-map-stage
    * consumers (see [[spreadN]]). */
  def documents(s: SparkSession, d: String, wide: Boolean): DataFrame =
    spread(load(s, d, "documents"), "doc_id", wide)
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(load(s, d, "embeddings"), "vec_id")

  /** `events` with `ts` normalized to TimestampType (µs, UTC),
    * whichever way the fixture generation encoded it:
    *
    * - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current generation):
    *   read as TIMESTAMP (LTZ) via `inferTimestampNTZ=false` in
    *   [[load]] — the stored micros ARE the epoch micros.
    * - TIMESTAMP(NANOS) (older generations): Spark 4.x cannot read it
    *   natively; `spark.sql.legacy.parquet.nanosAsLong=true` surfaces
    *   it as a Long of epoch-nanos. `ts div 1000` is exact integer
    *   division (a double-rounded path would lose precision above
    *   2^53 ns) and truncates toward zero exactly like DuckDB's
    *   ns→µs read path.
    *
    * Confs are (re)set here so the loader works on any session,
    * including a driver-owned one that didn't go through
    * Engine.configure. `nanosAsLong` stays session-persistent (NOT
    * scoped like [[load]]'s NTZ pin): the legacy nanos read path
    * cannot be validated against the current micros fixture, and the
    * conf's only effect is surfacing otherwise-UNREADABLE NANOS
    * columns as Long — a benign global footprint.
    */
  def events(s: SparkSession, d: String): DataFrame =
    events(s, d, wide = false)

  /** `wide = true`: the documents/embeddings scale-adaptive scan
    * spread (keyed by event_id, no-op whenever the scan already
    * yields enough splits), OPT-IN rather than default for events
    * (r20): most events consumers shuffle immediately into their own
    * keyed exchange (q17's user window, q63's gap-fill) where a
    * spread exchange is pure extra cost, but the per-row-HEAVY
    * parsers (q31's double from_json: 2.4 s of task time on the
    * fixture's 2 scan splits) are starved without it. The streaming
    * twin (StreamQueries.eventsStream) is untouched. */
  def events(s: SparkSession, d: String, wide: Boolean): DataFrame = {
    s.conf.set(Engine.NanosAsLong, "true")
    val raw = load(s, d, "events")
    val canon = if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
    if (wide) spread(canon, "event_id", wide = true) else canon
  }
}
