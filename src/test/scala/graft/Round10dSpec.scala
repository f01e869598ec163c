package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

import graft.queries.{Q65IncrementalStats, Q66Scd2Dimension}
import graft.streaming.S13StreamIncrementalStats

/** Round-10 continuation: streaming MV maintenance (s13) and the SCD2
  * dimension build (q66). */
class Round10dSpec extends SparkSpec {


  // ---------------------------------------------------------------- s13

  test("s13: stream-maintained store equals the batch incremental path (q65)") {
    val viaStream = S13StreamIncrementalStats.run(spark, sf01).collect()
    val viaBatch  = Q65IncrementalStats.run(spark, sf01).collect()
    assert(viaStream.toSeq === viaBatch.toSeq)
  }

  test("s13: run-scoped working tables do not leak into the catalog") {
    S13StreamIncrementalStats.run(spark, sf01).collect()
    val leaked = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_s13_store_"))
    assert(leaked.isEmpty, s"leaked working tables: ${leaked.mkString(",")}")
  }

  test("s13: multi-epoch maintenance — one refresh per file-trigger, final state equals recompute") {
    val dir = Files.createTempDirectory("s13_waves").toString
    try {
      // Three delta waves as three files; file-per-trigger forces one
      // micro-batch (= one store refresh) per wave. min/max extremes
      // land in different waves so the merge across epochs is load-
      // bearing, not vacuous.
      val waves = Seq(
        Seq(("w1a", "src_a", "tiny"), ("w1b", "src_b", "alpha beta gamma")),
        Seq(("w2a", "src_a", "a much longer document body with many more tokens than the others")),
        Seq(("w3a", "src_b", "x"), ("w3b", "src_a", "mid sized doc here")))
      import spark.implicits._
      waves.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("doc_id", "source", "text").repartition(1)
          .write.parquet(s"$dir/delta/wave$i.parquet")
      }
      // Store seeded EMPTY (no base corpus): the final state must be
      // exactly the three waves' recompute.
      val statsT = "graft_s13_spec_store"
      spark.sql(s"DROP TABLE IF EXISTS $statsT")
      val empty = Seq.empty[(String, Long, Long, Long, Long, Long)]
        .toDF("source", "n_docs", "sum_ws_tokens", "sum_chars",
          "min_chars", "max_chars")
      empty.write.format("parquet").saveAsTable(statsT)

      val sch = spark.read.parquet(s"$dir/delta/wave0.parquet").schema
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/delta/*.parquet")
      val applied = S13StreamIncrementalStats.maintain(spark, statsT, stream)
      assert(applied === 3L, s"expected 3 refreshes (one per wave), got $applied")

      val allDocs = spark.read.parquet(s"$dir/delta/*.parquet")
      val direct = Q65IncrementalStats.merge(
        Q65IncrementalStats.partials(allDocs)).collect()
      val maintained = Q65IncrementalStats.merge(spark.table(statsT)
        .filter(col("source") =!= Q65IncrementalStats.EpochKey)).collect()
      assert(maintained.toSeq === direct.toSeq)
      // the cross-wave extremes actually crossed waves
      val bySrc = maintained.map(r => r.getString(0) ->
        (r.getLong(4), r.getLong(5))).toMap
      assert(bySrc("src_a")._1 < bySrc("src_a")._2)
      spark.sql(s"DROP TABLE IF EXISTS $statsT")
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(Files.delete)
    }
  }

  // ---------------------------------------------------------------- q66

  test("q66: versions dense from 1, ranges tile, one open row per user, adjacent segments differ") {
    val rows = Q66Scd2Dimension.run(spark, sf01).collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to rs.length).toSeq,
        s"user $u versions not dense")
      // ranges tile: valid_to of version k == valid_from of k+1
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(4) === b.getLong(3),
            s"user $u: version ${a.getLong(1)} does not abut ${b.getLong(1)}")
          assert(a.getString(2) !== b.getString(2),
            s"user $u: adjacent versions share segment — not a change point")
        case _ =>
      }
      // exactly one open (current) row, and it is the last version
      val open = sorted.filter(_.isNullAt(4))
      assert(open.length === 1 && open.head.getLong(1) === sorted.last.getLong(1),
        s"user $u: open-row invariant broken")
      assert(sorted.forall(r => r.getBoolean(5) === r.isNullAt(4)))
    }
    // every user with at least one event has a dimension row
    val nUsers = Tables.events(spark, sf01)
      .select(countDistinct(col("user_id"))).head.getLong(0)
    assert(byUser.size.toLong === nUsers)
  }

  test("q66 ⋈ as-of: the native as-of lookup against the SCD2 dimension equals interval containment") {
    // The composition the SCD2 table exists for: "which segment was
    // user u in at time t" — answered two independent ways, which
    // must agree for EVERY event because q66's ranges tile:
    //  (a) the native as-of operator (max valid_from ≤ t per user),
    //  (b) a direct interval-containment join (from ≤ t < to).
    val dim = graft.queries.Q66Scd2Dimension.run(spark, sf01)
      .select(col("user_id").as("d_user"), col("segment"),
        col("valid_from_us"), col("valid_to_us"))
      .localCheckpoint(true)
    val lookups = Tables.events(spark, sf01)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"))
    val viaAsof = lookups.join(dim,
        col("user_id") === col("d_user") &&
          expr("graft_asof_le(valid_from_us, t_us)"), "left")
      .select(col("event_id"), col("segment"))
    val viaInterval = lookups.join(dim,
        col("user_id") === col("d_user") &&
          col("valid_from_us") <= col("t_us") &&
          (col("valid_to_us").isNull || col("t_us") < col("valid_to_us")))
      .select(col("event_id"), col("segment"))
    // tiling ⇒ containment matches each event exactly once, and no
    // event precedes its user's first version (its own event opened it)
    val n = lookups.count()
    assert(viaInterval.count() === n)
    assert(viaAsof.filter(col("segment").isNull).count() === 0)
    val diff = viaAsof.as("a").join(viaInterval.as("b"), Seq("event_id"))
      .filter(col("a.segment") =!= col("b.segment")).count()
    assert(diff === 0, "as-of pick diverged from interval containment")
  }

  test("q57b store survives compaction: results identical, files collapse, bucket spec kept") {
    import graft.queries.Q57bDeltaDedupStore
    import graft.plans.Bucketing
    val dir = Files.createTempDirectory("r10d-compact")
    try {
      import spark.implicits._
      // 1,2 = train (md5-split): seed store; several admit waves then
      // grow the band/hash tables' file counts.
      Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "web", 46L),
        (8L, "completely novel wave one document with fresh words here", "en", "web", 55L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val (bandsT, exactT) = Q57bDeltaDedupStore.ensureStore(spark, dir.toString)
      for (w <- 1 to 4)
        Q57bDeltaDedupStore.admit(spark,
          Seq((100L + w, s"admitted wave $w doc with its own distinct words number $w"))
            .toDF("doc_id", "text"), bandsT, exactT)
      val filesBefore = Bucketing.dataFileCount(spark, bandsT)
      assert(filesBefore > 16, s"appends left only $filesBefore files — vacuous")
      val before = Q57bDeltaDedupStore.run(spark, dir.toString).collect().toSeq

      Bucketing.compact(spark, bandsT, "bkey", 16)
      Bucketing.compact(spark, exactT, "th", 16)

      // at most one file per bucket — a bucket no key hashes to
      // writes no file at all (the reader treats it as empty)
      val bandFiles = Bucketing.dataFileCount(spark, bandsT)
      val exactFiles = Bucketing.dataFileCount(spark, exactT)
      assert(bandFiles <= 16 && bandFiles < filesBefore,
        s"bands: $bandFiles files (was $filesBefore)")
      assert(exactFiles <= 16)
      assert(Q57bDeltaDedupStore.run(spark, dir.toString).collect().toSeq === before)
      // the rewritten tables still carry the bucket spec the
      // zero-exchange join posture depends on
      for ((t, k) <- Seq(bandsT -> "bkey", exactT -> "th")) {
        val desc = spark.sql(s"DESCRIBE EXTENDED $t").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(desc.get("Num Buckets").contains("16"), s"$t lost buckets")
        assert(desc.get("Bucket Columns").exists(_.contains(k)), s"$t lost key")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  // ---------------------------------------------------------------- q68

  test("q68: MG unit — a word above the local threshold always survives") {
    import graft.queries.Q68HeavyHitters.misraGries
    // 100 tokens, k=4: 'hot' (30 > 100/4) must survive any order;
    // adversarial order = hot tokens first (maximally decremented).
    val noise = (1 to 70).map(i => s"n$i")
    val hot = Seq.fill(30)("hot")
    assert(misraGries((hot ++ noise).iterator, 4).contains("hot"))
    assert(misraGries((noise ++ hot).iterator, 4).contains("hot"))
    assert(misraGries(scala.util.Random.shuffle(hot ++ noise).iterator, 4)
      .contains("hot"))
  }

  test("q68: sketch+verify equals brute force on high-cardinality skew, at any partitioning") {
    import spark.implicits._
    import graft.queries.Q68HeavyHitters.heavyHitters
    val k = 50
    // 3 genuinely heavy words + ~20k distinct noise words; heavy
    // counts chosen so each exceeds N/50 while no noise word comes
    // close (each noise word appears ≤ 3 times).
    val heavy = Seq.fill(3000)("alpha") ++ Seq.fill(2500)("beta") ++
      Seq.fill(2000)("gamma")
    val noise = (1 to 60000).map(i => s"noise${i % 20000}")
    val words = heavy ++ noise // N = 67500; N/k = 1350
    val brute = words.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 * k > words.size).toSeq
      .sortBy { case (w, n) => (-n, w) }
    for (parts <- Seq(2, 16)) {
      // sorted layout clusters each heavy word into few partitions;
      // shuffled spreads it — the guarantee must hold under both
      for (layout <- Seq(words.sorted, scala.util.Random.shuffle(words))) {
        val df = layout.toDF("word").repartition(parts)
        val got = heavyHitters(df, k).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        assert(got.toSeq === brute, s"mismatch at parts=$parts")
        assert(got.nonEmpty, "heavy-hitter fixture produced no output — vacuous")
      }
    }
  }

  test("q68: verify pass — candidates attach by broadcast, corpus scanned once in the plan") {
    val df = graft.queries.Q68HeavyHitters.run(spark, sf01)
    df.collect()
    val plan = flattenPlan(df.queryExecution.executedPlan)
    assert(plan.exists(_.nodeName.contains("BroadcastHashJoin")),
      "candidate set must attach by broadcast")
    // exactly the two honest passes: the MG candidate scan (inside
    // the broadcast subtree) + the verify scan — and nothing more
    val docScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("documents")) => f
    }
    assert(docScans.size === 2,
      s"expected MG pass + verify pass (2 documents scans), saw ${docScans.size}")
    // the isNotNull filter must NOT have pushed below the global
    // window — the overflow bucket has to be inside `total`
    val totals = df.select(col("total")).distinct().collect()
    val exactN = Tables.documents(spark, sf01)
      .select(explode(expr(graft.queries.NorthStar.toksExpr))).count()
    assert(totals.length === 1 && totals.head.getLong(0) === exactN,
      "total must count ALL tokens, including non-candidates")
  }

  // ---------------------------------------------------------------- q67

  test("q67: RANGE frame — peers share frames, the 7-day bound is inclusive, 1µs past it is out") {
    import spark.implicits._
    val day = 86400000000L // µs
    val t0 = 1600000000000000L
    val mk = (us: Long) => new java.sql.Timestamp(us / 1000)
    // customer 1: two PEER orders at t0 (same timestamp), one exactly
    // 7 days later (inclusive bound), one 7 days + 1µs after the
    // peers (exclusive). customer 2: isolated order (frame of one).
    val orders = Seq(
      (1L, mk(t0), 101L, 10.0),
      (1L, mk(t0), 102L, 20.0),
      (1L, mk(t0 + 7 * day), 103L, 40.0),
      (1L, mk(t0 + 7 * day + 1000), 104L, 80.0),
      (2L, mk(t0), 201L, 5.0))
      .toDF("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    val out = graft.queries.Q67RollingWindow.rolling(orders).collect()
      .map(r => r.getLong(2) -> (r.getLong(3), r.getDouble(4))).toMap
    // peers see each other symmetrically — both frames are {101,102}
    assert(out(101L) === ((2L, 30.0)))
    assert(out(102L) === ((2L, 30.0)))
    // exactly 7 days back reaches the peers (RANGE bound inclusive)
    assert(out(103L) === ((3L, 70.0)))
    // 1µs past the bound drops them; 103 (1µs earlier) stays
    assert(out(104L) === ((2L, 120.0)))
    assert(out(201L) === ((1L, 5.0)))
  }

  test("q66: one data shuffle (hash by user_id), no join — the window chain reuses the partitioning") {
    val df = Q66Scd2Dimension.run(spark, sf01)
    df.collect()
    val plan = flattenPlan(df.queryExecution.executedPlan)
    assert(!plan.exists(_.nodeName.toLowerCase.contains("join")),
      "SCD2 build must not plan a join")
    // The events loader's scale-adaptive scan spread (Tables.spread,
    // r20) is load balancing over the fixture's single-split file, not
    // part of the SCD2 chain; count only the exchanges the OPERATOR
    // requires.
    val hashShuffles = plan.collect {
      case s: ShuffleExchangeExec
        if s.outputPartitioning.isInstanceOf[HashPartitioning] &&
          !isScanSpread(s) => s
    }
    assert(hashShuffles.size === 1,
      s"expected exactly one hash shuffle, got ${hashShuffles.size}:\n" +
        hashShuffles.mkString("\n"))
  }

  // ---------------------------------------------------------------- q69

  test("q69: deciles tile N docs evenly, bounds are monotone, and the two-pass rank equals the window spelling") {
    import org.apache.spark.sql.expressions.Window
    val out = graft.queries.Q69ScoreDeciles.run(spark, sf01).collect()
    assert(out.map(_.getLong(0)).toSeq === (0L to 9L))
    val sizes = out.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1, s"uneven deciles: ${sizes.mkString(",")}")
    val n = Tables.documents(spark, sf01)
      .filter(length(col("text")) > 0).count()
    assert(sizes.sum === n)
    // monotone bounds (equality allowed: score ties may straddle a
    // boundary, split deterministically by doc_id)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(3) <= b.getDouble(2),
        s"decile ${a.getLong(0)} max > decile ${b.getLong(0)} min")
    case _ => }
    // the machinery proof (q62's pattern at row scale): the
    // distributed two-pass rank must equal the single-partition
    // global-window spelling it exists to avoid
    val scored = Tables.documents(spark, sf01)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        (size(expr(graft.queries.NorthStar.toksExpr)).cast("double") /
          length(col("text"))).as("score"))
    val viaWindow = scored
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score"), col("doc_id"))))
      .withColumn("decile", (col("rk") - 1) * 10 / lit(n))
      .select((col("decile").cast("long")).as("decile"), col("score"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
      .orderBy(col("decile")).collect()
    assert(out.toSeq === viaWindow.toSeq)
  }

}
