package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Q59–Q62 — graph/span/coverage operators for corpus curation at web
  * scale (q62's distributed prefix sum lives here with the other
  * driver-coordinated iteration/teardown patterns).
  *
  * Q59 is PageRank, the canonical authority score a web-crawl pipeline
  * computes over the host/domain link graph to keep high-authority
  * content (and as a spam prior). The synthetic corpus carries no
  * hyperlinks (q50/q51 verified: no URL-shaped tokens), so the fixture
  * graph is the customer↔supplier bipartite graph from orders⋈lineitem
  * — real, skewed, non-trivial edges at every SF; the operator itself
  * is generic over any (src, dst) edge list.
  *
  * Q60 is cross-document repeated-SPAN detection (8-token sliding
  * windows): q49 catches repeated LINES, but boilerplate that has been
  * reflowed/rewrapped crosses line boundaries and only token windows
  * see it (the "exact substring dedup" signal of Lee et al. 2022,
  * approximated at fixed window width so it stays a hash-join, not a
  * suffix array).
  */
object Graph {
  val all: Seq[GraftQuery] =
    Seq(Q59GraphPagerank, Q60RepeatedSpans, Q60bLongestSharedSpans,
      Q60cExciseDuplicates, Q60dExciseStore, Q62VocabCoverage,
      Q68HeavyHitters, Q69ScoreDeciles)
}

/** Q59 — PageRank over the customer↔supplier graph, 5 iterations,
  * damping 0.85, in BIGINT fixed-point micro-units (1.0 == 1,000,000).
  *
  * Why integer fixed-point: float PageRank sums partial contributions
  * in whatever order the reduce happens to run — nondeterministic
  * across Spark runs (task scheduling) AND across engines (DuckDB's
  * aggregation order differs), so a float rank could never hash-match
  * an oracle. Integer sums are associative-commutative-EXACT: identical
  * results any run, any engine, any partitioning. Division truncates a
  * little mass each iteration (≤1 micro-unit per edge), which is fine —
  * PageRank is used as an ORDERING, and the truncation is identical in
  * both engines (`div`/`//` agree on non-negative operands).
  *
  * Node encoding: customer c → 2c, supplier s → 2s+1 (disjoint BIGINT
  * ids, no string keys on the shuffle). Edges are symmetrized, so the
  * bipartite graph has no dangling nodes and every node receives
  * contributions every iteration.
  *
  * Scale posture (Pregel shape): the degree-annotated edge list is
  * persisted hash-partitioned by src and reused across all iterations;
  * ranks come out of each iteration hash-partitioned by node (the
  * groupBy dst), so the next join is shuffle-free on both sides —
  * exactly ONE shuffle per iteration (the contribution aggregation),
  * with map-side partial sums because the aggregate is a plain BIGINT
  * sum. Overflow headroom: 85 · N · 10⁶ fits BIGINT up to N ≈ 10¹⁰
  * nodes. At depth ≫ 5, checkpoint ranks every few iterations to cut
  * lineage (q18f's pattern); 5 fixed iterations don't need it.
  */
object Q59GraphPagerank extends GraftQuery {
  val name = "q59_graph_pagerank"
  val Iterations = 5
  /** 1.0 in micro-units; damping 0.85 == 85/100 in integer form. */
  val One = 1000000L

  def run(spark: SparkSession, dir: String): DataFrame = {
    // pairs persisted BEFORE the symmetric union (q18f's pattern): the
    // union's two projections are distinct plan subtrees, so without
    // the cache the orders⋈lineitem distinct would be computed twice.
    val pairs = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    // outdeg via a WINDOW over the same src hash exchange the edge
    // cache needs anyway (guide §2.4: two operations keyed the same
    // way share one exchange) — the previous groupBy+join shape
    // shuffled the symmetric edge list TWICE more (once into the
    // degree agg, once into the join) before the iterations even
    // started. count().over(partitionBy(src)) is the identical
    // per-src row count; the window's local sort replaces two full
    // exchanges (r20: full-bench q59 7.2 → 4.3 s quiet-to-quiet; the
    // two 64-task stages with 5.5–6.1 s of fetch wait are gone from
    // the stage dump — plans/r20/q59_graph_pagerank_{before,after}).
    val edges = sym
      .repartition(col("src"))
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // try/finally (unpersist is idempotent): a failed job must not
    // leak either cache into the session's remaining queries.
    try {
      edges.count() // materialize through the pairs cache, then drop it
      pairs.unpersist()
      var ranks = edges.select(col("src").as("node")).distinct()
        .withColumn("pr", lit(One))
      for (_ <- 1 to Iterations) {
        ranks = edges.join(ranks, edges("src") === ranks("node"))
          .select(col("dst"), expr("pr div outdeg").as("contrib"))
          .groupBy(col("dst").as("node"))
          .agg(expr(s"150000L + (85 * sum(contrib)) div 100").as("pr"))
      }
      // q18f's teardown pattern: eagerly checkpoint the (tiny) rank
      // table so the persisted edge list can be released NOW, not when
      // some later pipeline happens to consume the plan; the global
      // decode+sort sits downstream of the checkpoint.
      ranks.localCheckpoint(true).select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("kind"),
        expr("node div 2").as("entity_key"),
        col("pr").as("rank_micro"))
        .orderBy(col("rank_micro").desc, col("kind"), col("entity_key"))
    } finally { edges.unpersist(); pairs.unpersist() }
  }

  val oracle = Some {
    // Unrolled (not WITH RECURSIVE): Postgres-family recursive CTEs
    // forbid aggregation in the recursive member, and 5 iterations are
    // fixed by contract anyway. `//` is DuckDB integer division == the
    // Spark `div` above on these non-negative values; SUM over BIGINT
    // widens to HUGEINT, hence the final CAST.
    val iters = (1 to Iterations).map { i =>
      s"""r$i AS (SELECT e.dst AS node,
        CAST(150000 + (85 * SUM(r${i - 1}.pr // e.outdeg)) // 100 AS BIGINT) AS pr
        FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node GROUP BY e.dst)"""
    }.mkString(",\n    ")
    s"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    sym AS (SELECT a AS src, b AS dst FROM pairs
            UNION ALL SELECT b AS src, a AS dst FROM pairs),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY src),
    e AS (SELECT sym.src, sym.dst, deg.outdeg FROM sym JOIN deg USING (src)),
    r0 AS (SELECT DISTINCT src AS node, CAST(${One} AS BIGINT) AS pr FROM sym),
    $iters
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
      node // 2 AS entity_key, pr AS rank_micro
    FROM r$Iterations
    ORDER BY rank_micro DESC, kind, entity_key
    """.trim
  }
}

/** Q60 — cross-document repeated token spans: for every document with
  * ≥ [[Q60RepeatedSpans.Width]] whitespace tokens, the fraction of its
  * distinct 8-token windows that also occur in ANOTHER document.
  *
  * Line-reflow blindspot of q49: a boilerplate footer rewrapped at a
  * different column shares no line hash with its original, but its
  * token windows are identical — window hashing is layout-independent.
  * Fixed width keeps it a linear scan + hash aggregation (the full
  * suffix-array substring dedup is superlinear and needs no Spark
  * shuffle shape that this doesn't already have).
  *
  * Scale posture: one corpus scan; windows explode to ~n_tokens rows
  * per doc but carry only (doc_id, 32-char md5) — the shuffle is
  * hashed-key-uniform (no skew by construction: a span shared by many
  * docs spreads over the doc_id dimension, and the span-frequency side
  * of the join is pre-aggregated to ONE row per span hash, so a
  * mega-shared span amplifies nothing). Per-doc distinct windows are
  * computed BEFORE the explode (array_distinct on the sorted window
  * array), so intra-doc repetition (q47's signal) never inflates the
  * cross-doc count.
  */
object Q60RepeatedSpans extends GraftQuery {
  val name = "q60_repeated_spans"
  val Width = 8
  /** Window starts of the token array `t`; empty when size(t) < Width.
    * The guard sits inside the expression (as in
    * [[NorthStar.shinglesExpr]]): a `size(t) >= Width` filter does not
    * keep Catalyst from projecting shorter rows, where the sequence
    * counts down through index 0 and `slice` throws. */
  private[graft] val startsExpr =
    s"IF(size(t) < $Width, array(), sequence(1, size(t) - ${Width - 1}))"

  def run(spark: SparkSession, dir: String): DataFrame =
    sharedSpans(Tables.documents(spark, dir))

  /** Frame-based entry point (any frame with doc_id + text) — the
    * composable surface PropertySpec drives with random corpora.
    *
    * The span frame is PERSISTED across its two consumers (frequency
    * agg + join back): the branches are non-identical exchange
    * subtrees (partial agg under one of them), so ReuseExchange can't
    * deduplicate them and the corpus scan + window-md5 explode — the
    * dominant cost — would run twice (the q59-pairs lesson, caught by
    * review). The per-doc result is eagerly localCheckpoint'ed so the
    * cache can be released before return (q18f's teardown); at real
    * scale this materialization is the output a cleaning pass writes
    * to storage anyway. try/finally: a failed job must not leak the
    * cache into the session's remaining queries. */
  private[graft] def sharedSpans(docs: DataFrame): DataFrame = {
    val w = Width
    val spans = docs
      .select(col("doc_id"), expr(NorthStar.toksExpr).as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform($startsExpr, " +
          s"i -> md5(concat_ws(' ', slice(t, i, $w)))))")).as("span_h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // spans is distinct per (doc_id, span_h) ⇒ count(*) == distinct docs
      val bySpan = spans.groupBy("span_h").agg(count(lit(1)).as("n_docs"))
      spans.join(bySpan, "span_h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .withColumn("shared_span_frac",
          col("n_shared").cast("double") / col("n_spans"))
        .select(col("doc_id"), col("n_spans"), col("n_shared"),
          col("shared_span_frac"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    } finally spans.unpersist()
  }

  // shared_span_frac is one IEEE division of two exact integers —
  // bit-deterministic, surfaced UNROUNDED (the q55 lesson: ROUND on
  // exact short decimals is the cross-engine hazard, not division).
  val oracle = Some(s"""
    WITH tt AS (SELECT doc_id, ${NorthStar.duckToks} AS t FROM documents),
    wi AS (SELECT doc_id, t, unnest(range(1, len(t) - ${Width - 2})) AS i
           FROM tt WHERE len(t) >= $Width),
    spans AS (SELECT DISTINCT doc_id,
              md5(array_to_string(t[i:i+${Width - 1}], ' ')) AS span_h FROM wi),
    byspan AS (SELECT span_h, COUNT(*) AS n_docs FROM spans GROUP BY span_h)
    SELECT s.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_spans,
      CAST(SUM(CASE WHEN b.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      CAST(SUM(CASE WHEN b.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*) AS shared_span_frac
    FROM spans s JOIN byspan b ON s.span_h = b.span_h
    GROUP BY s.doc_id ORDER BY s.doc_id
  """.trim)
}

/** Q60b — LONGEST shared token spans (variable length): q60 scores
  * documents by the FRACTION of fixed-width windows that recur
  * cross-doc; this surfaces the actual duplicated regions. A
  * reflowed 40-token footer is 33 overlapping shared 8-token
  * windows — useful as a score, useless as an excision target. The
  * classic coalescing observation (Lee et al. 2022's substring dedup,
  * PAPERS.md — here at window granularity so it stays a hash join,
  * never a suffix array): a maximal run of CONSECUTIVE shared
  * window-starts i..j is exactly one duplicated span of tokens
  * [i, j+W−1], so window-chain coalescing is gaps-and-islands over
  * the shared start positions — `grp = i − row_number()` per doc,
  * then min/max per (doc, grp). Output: one row per maximal span
  * with its 1-based token start, token length, and text (sliced
  * back from the ORIGINAL token array — layout-independent excision
  * coordinates).
  *
  * "Shared" matches q60: the window occurs in ≥ 2 DISTINCT docs
  * (intra-doc repeats are q47's signal, not dedup evidence);
  * position-level rows force a countDistinct where q60's per-doc
  * pre-dedup made count(*) sufficient.
  *
  * Scale: the same one-corpus-scan + uniform-hash shuffle as q60
  * (positions carry (doc_id, i, 32-char md5); the frequency side is
  * pre-aggregated to one row per hash, so a mega-shared footer
  * amplifies nothing), plus one doc_id-partitioned window (islands)
  * and one doc_id equi-join to slice span text — every key uniform,
  * no driver materialization. */
object Q60bLongestSharedSpans extends GraftQuery {
  val name = "q60b_longest_shared_spans"
  import Q60RepeatedSpans.{Width, startsExpr}

  def run(spark: SparkSession, dir: String): DataFrame =
    longestSpans(Tables.documents(spark, dir))

  /** Frame-based surface (doc_id + text) — Round12Spec feeds the
    * crafted reflowed-footer corpus through this. */
  private[graft] def longestSpans(docs: DataFrame): DataFrame = {
    val w = Width
    val toks = docs
      .select(col("doc_id"), expr(NorthStar.toksExpr).as("t"))
      .filter(size(col("t")) >= w)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val pos = toks
        .select(col("doc_id"), col("t"),
          explode(expr(startsExpr)).as("i"))
        .select(col("doc_id"), col("i"),
          expr(s"md5(concat_ws(' ', slice(t, i, $w)))").as("span_h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val bySpan = pos.groupBy("span_h")
          .agg(countDistinct(col("doc_id")).as("n_docs"))
        val shared = pos.join(bySpan, "span_h")
          .filter(col("n_docs") >= 2)
          .select(col("doc_id"), col("i"))
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("i"))
        val islands = shared
          .withColumn("grp", col("i") - row_number().over(win))
          .groupBy(col("doc_id"), col("grp"))
          .agg(min(col("i")).as("span_start"),
            (max(col("i")) - min(col("i")) + w).as("span_len"))
        islands.join(toks, "doc_id")
          .select(col("doc_id"),
            col("span_start").cast("long").as("span_start"),
            col("span_len").cast("long").as("span_len"),
            expr("concat_ws(' ', slice(t, span_start, span_len))").as("span_text"))
          .orderBy(col("doc_id"), col("span_start"))
          .localCheckpoint(true)
      } finally pos.unpersist()
    } finally toks.unpersist()
  }

  val oracle = Some(s"""
    WITH tt AS (SELECT doc_id, ${NorthStar.duckToks} AS t FROM documents),
    wi AS (SELECT doc_id, t, unnest(range(1, len(t) - ${Width - 2})) AS i
           FROM tt WHERE len(t) >= $Width),
    pos AS (SELECT doc_id, i,
            md5(array_to_string(t[i:i+${Width - 1}], ' ')) AS span_h FROM wi),
    byspan AS (SELECT span_h, COUNT(DISTINCT doc_id) AS n_docs
               FROM pos GROUP BY span_h),
    shared AS (SELECT p.doc_id, p.i FROM pos p
               JOIN byspan b ON p.span_h = b.span_h WHERE b.n_docs >= 2),
    isl AS (SELECT doc_id, i,
            i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
            FROM shared),
    sp AS (SELECT doc_id, MIN(i) AS span_start,
           MAX(i) - MIN(i) + $Width AS span_len
           FROM isl GROUP BY doc_id, grp)
    SELECT sp.doc_id,
      CAST(span_start AS BIGINT) AS span_start,
      CAST(span_len AS BIGINT) AS span_len,
      array_to_string(t[span_start:span_start + span_len - 1], ' ') AS span_text
    FROM sp JOIN tt ON sp.doc_id = tt.doc_id
    ORDER BY sp.doc_id, span_start
  """.trim)
}

/** Q62 — vocabulary coverage: the global word-frequency table with
  * cumulative coverage fraction, ordered most-frequent-first — the
  * stat a tokenizer-training pass reads to size its vocabulary ("how
  * many types cover 95% of tokens?").
  *
  * The interesting part is the GLOBAL running sum. The declarative
  * spelling — `sum(c) OVER (ORDER BY c DESC, word)` with no PARTITION
  * BY — plans a single-partition window: every row through one task,
  * the exact shape q52 refused. This implements the scalable
  * alternative, the classic two-pass distributed prefix sum:
  *
  *   1. range-repartition + sort by the output order (Spark's own
  *      global-sort machinery — deterministic split points);
  *   2. pass 1: per-partition subtotals — P scalars to the driver
  *      (q18f's scalar-only-driver-traffic rule);
  *   3. pass 2: per-partition local prefix + broadcast offset.
  *
  * Every partition works in parallel in both passes; the driver sees
  * O(P) longs, never rows. `mapPartitions` here is the (d)-tier rung
  * used for what it is genuinely for: per-partition imperative logic
  * (a running accumulator) that no key-partitioned window expresses.
  * Counts are exact BIGINTs, so the prefix sums are order-exact and
  * `cum_frac` is one unrounded IEEE division per row (the q55 rule).
  */
object Q62VocabCoverage extends GraftQuery {
  val name = "q62_vocab_coverage"

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = InvertedIndex.words(Tables.documents(spark, dir))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val parted = counts
      .repartitionByRange(col("c").desc, col("word"))
      .sortWithinPartitions(col("c").desc, col("word"))
      .as[(String, Long)]
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // pass 1: per-partition subtotals (P scalars, not rows)
      val subtotals = parted.mapPartitions { it =>
        var s = 0L; var n = false
        it.foreach { case (_, c) => s += c; n = true }
        if (n) Iterator((org.apache.spark.TaskContext.getPartitionId(), s))
        else Iterator.empty
      }.collect().toMap
      val total = subtotals.valuesIterator.sum.toDouble
      val offsets = {
        val P = parted.rdd.getNumPartitions
        val arr = new Array[Long](P)
        var acc = 0L
        for (p <- 0 until P) { arr(p) = acc; acc += subtotals.getOrElse(p, 0L) }
        arr
      }
      // pass 2: local prefix + this partition's broadcast offset
      parted.mapPartitions { it =>
        var acc = offsets(org.apache.spark.TaskContext.getPartitionId())
        it.map { case (w, c) => acc += c; (w, c, acc, acc / total) }
      }.toDF("word", "c", "cum_c", "cum_frac")
        .orderBy(col("c").desc, col("word"))
        .localCheckpoint(true)
    } finally parted.unpersist()
  }

  val oracle = Some(raw"""
    WITH words AS (
      SELECT lower(regexp_replace(unnest(string_split_regex(text, '\s+')),
        '[^a-zA-Z]', '', 'g')) AS word
      FROM documents),
    counts AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c
      FROM words WHERE word <> '' GROUP BY word)
    SELECT word, c,
      CAST(SUM(c) OVER (ORDER BY c DESC, word
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
      CAST(SUM(c) OVER (ORDER BY c DESC, word ROWS UNBOUNDED PRECEDING)
        AS DOUBLE) / SUM(c) OVER () AS cum_frac
    FROM counts ORDER BY c DESC, word
  """.trim)
}

/** Q68 — HEAVY HITTERS (frequent items) by sketch-then-verify: every
  * word whose corpus frequency strictly exceeds N/k, with its EXACT
  * count — the frequency-sketch member of the approximate family
  * (q12b = cardinality, q30b = quantiles), in the two-pass shape that
  * makes approximation yield an exact answer.
  *
  * Why not `groupBy(word).count().filter(...)`: at web scale the
  * full-vocabulary shuffle IS the cost (q62 pays it deliberately —
  * coverage needs every type). Heavy hitters don't: a Misra-Gries
  * summary with k counters per PARTITION guarantees that any word
  * with global frequency > N/k survives in at least one partition
  * (pigeonhole: it cannot be below the local threshold everywhere),
  * so pass 1 emits ≤ k·P candidate words from a map-only scan with
  * NO shuffle, and pass 2 aggregates the corpus over a BROADCAST
  * candidate set — shuffle cardinality ≤ k·P instead of |vocab|.
  * The candidate SET depends on partitioning (MG survivors are
  * order-sensitive); the OUTPUT does not: superset-of-heavy-hitters
  * is guaranteed, and exact verification discards the rest — the
  * determinism burden sits entirely on pass 2's exact integer
  * counts. The final filter compares exact BIGINTs cross-multiplied
  * (n·k > N) — no division to disagree on.
  *
  * mapPartitions is the (d)-tier rung used for what it is genuinely
  * for (q62's rule): a bounded per-partition accumulator no
  * key-partitioned aggregation expresses — MG's decrement step
  * couples ALL k counters, so it is not a per-key combine.
  *
  * Oracle: the full-vocabulary GROUP BY with the same cross-
  * multiplied threshold — "sketch+verify equals brute force" is the
  * driver's hash gate, the q65 framing applied to frequency.
  */
object Q68HeavyHitters extends GraftQuery {
  val name = "q68_heavy_hitters"
  /** Fixture-scale k: the synthetic 31-word vocabulary straddles the
    * N/30 threshold, so both verdicts are exercised at every SF. */
  private[graft] val K = 30

  /** Misra-Gries survivors of one partition: at most k words, every
    * word with partition frequency > (partition size)/k guaranteed
    * present. */
  private[graft] def misraGries(words: Iterator[String], k: Int): Iterator[String] = {
    val counters = new scala.collection.mutable.HashMap[String, Long]
    words.foreach { w =>
      if (counters.contains(w)) counters(w) += 1L
      else if (counters.size < k) counters(w) = 1L
      else {
        // decrement-all step; drop zeros. Amortized O(1) per token:
        // each decrement pays back one prior increment.
        val dead = new scala.collection.mutable.ArrayBuffer[String]
        counters.keysIterator.foreach { key =>
          val c = counters(key) - 1L
          if (c == 0L) dead += key else counters(key) = c
        }
        dead.foreach(counters.remove)
      }
    }
    counters.keysIterator
  }

  /** Exact heavy hitters of any one-column word frame. NULL words are
    * dropped up front: the overflow bucket below uses null as its
    * sentinel, so an unfiltered null key would silently merge with
    * the non-candidate mass (and could never match the candidate
    * equi-join) — a caller whose nulls are data must encode them
    * first. */
  private[graft] def heavyHitters(words: DataFrame, k: Int): DataFrame = {
    import words.sparkSession.implicits._
    val ws = words.select(col("word").cast("string"))
      .filter(col("word").isNotNull).as[String]
    val candidates = ws.mapPartitions(it => misraGries(it, k))
      .distinct().toDF("word")
    // One verify pass: candidate words keep their identity, the rest
    // collapse into one overflow bucket — so the SAME aggregation
    // yields every candidate's exact count AND (via a global window
    // over the aggregated frame — ≤ k·P + 1 rows, bounded by the
    // SKETCH size, not the data, so the single-partition window q62
    // refuses at data scale is fine here) the exact total N. Single
    // plan branch: the corpus is scanned once, spec-pinned.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ws.toDF("word")
      .join(broadcast(candidates.withColumn("cand", lit(true))),
        Seq("word"), "left")
      .select(when(col("cand"), col("word")).otherwise(lit(null)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(w))
      .filter(col("word").isNotNull && col("n") * k > col("total"))
      .select(col("word"), col("n"), col("total"))
      .orderBy(col("n").desc, col("word"))
  }

  def run(spark: SparkSession, dir: String): DataFrame =
    heavyHitters(
      Tables.documents(spark, dir)
        .select(explode(expr(NorthStar.toksExpr)).as("word")), K)

  val oracle = Some(raw"""
    WITH t AS (
      SELECT unnest(${NorthStar.duckToks}) AS word FROM documents),
    c AS (SELECT word, count(*) AS n FROM t GROUP BY word),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT word, n, total FROM c, tot
    WHERE n * $K > total
    ORDER BY n DESC, word
  """.trim)
}

/** Q69 — SCORE-DECILE CALIBRATION: every document assigned its exact
  * global quality-score decile, reported as per-decile count and
  * score bounds — the threshold-setting step between scoring (q55's
  * classifier, q54's perplexity) and filtering (q42's gates): "keep
  * the top 30%" needs the score DISTRIBUTION's exact cut structure,
  * not a guessed absolute threshold.
  *
  * The score here is deliberately self-contained and bit-portable —
  * whitespace-token count over character count, one IEEE division of
  * exact integers per doc — so the operator's real content is the
  * RANKING machinery: decile = ((rank−1)·10) div N over the total
  * order (score, doc_id), and a global row rank is exactly the
  * single-partition-window trap q62 documents. Same cure, applied at
  * ROW scale rather than aggregate scale: range-repartition by the
  * rank order, per-partition counts to the driver (O(P) scalars),
  * local row-number + broadcast offset — both passes fully parallel.
  * Ties in score cross decile boundaries by doc_id order
  * identically in both engines, so even boundary rows hash-match;
  * the integer decile formula has no float to disagree on.
  *
  * At 100 TB: two passes over (doc_id, score) pairs — narrow rows,
  * range-partitioned — plus one bounded-cardinality aggregation; no
  * single-task stage anywhere. (approx_percentile boundaries + a
  * broadcast bucket join is the sketch-tier alternative when ±ε
  * cuts suffice — q30b's trade, not taken here because the oracle
  * gate wants exact.)
  */
object Q69ScoreDeciles extends GraftQuery {
  val name = "q69_score_deciles"

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        (size(expr(NorthStar.toksExpr)).cast("double") /
          length(col("text"))).as("score"))
    val parted = scored
      .repartitionByRange(col("score"), col("doc_id"))
      .sortWithinPartitions(col("score"), col("doc_id"))
      .as[(Long, Double)]
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // pass 1: per-partition row counts — O(P) driver scalars
      val counts = parted.mapPartitions { it =>
        Iterator((org.apache.spark.TaskContext.getPartitionId(), it.size.toLong))
      }.collect().toMap
      val n = counts.valuesIterator.sum
      val offsets = {
        val p = parted.rdd.getNumPartitions
        val arr = new Array[Long](p)
        var acc = 0L
        for (i <- 0 until p) { arr(i) = acc; acc += counts.getOrElse(i, 0L) }
        arr
      }
      // pass 2: local row-number + broadcast offset → exact rank
      parted.mapPartitions { it =>
        var rank = offsets(org.apache.spark.TaskContext.getPartitionId())
        it.map { case (id, s) => rank += 1; (id, s, (rank - 1) * 10 / n) }
      }.toDF("doc_id", "score", "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("decile"))
        .localCheckpoint(true)
    } finally parted.unpersist()
  }

  val oracle = Some(raw"""
    WITH s AS (
      SELECT doc_id,
        CAST(len(${NorthStar.duckToks}) AS DOUBLE) / length(text) AS score
      FROM documents WHERE length(text) > 0),
    r AS (
      SELECT doc_id, score,
        row_number() OVER (ORDER BY score, doc_id) AS rk,
        count(*) OVER () AS n
      FROM s)
    SELECT CAST((rk - 1) * 10 // n AS BIGINT) AS decile,
      count(*) AS n_docs, min(score) AS min_score, max(score) AS max_score
    FROM r GROUP BY 1 ORDER BY 1
  """.trim)
}

/** Q60c — duplicate-span EXCISION: the rewrite step of the substring
  * dedup pipeline. q60 scores documents and q60b surfaces the maximal
  * duplicated regions; this produces the deduplicated CORPUS — the
  * artifact a training run actually consumes (Lee et al. 2022: train
  * on the corpus with all-but-one occurrence of each duplicated
  * substring removed; here at the family's fixed window granularity
  * so it stays a hash aggregation, never a suffix array).
  *
  * Contract: for every [[Q60RepeatedSpans.Width]]-token window
  * occurring more than once in the corpus (ALL occurrences counted —
  * unlike q60/q60b's cross-doc-only "shared", excision also removes
  * intra-doc repeats, exactly what ExactSubstr does), the occurrence
  * with the globally least (doc_id, position) is the KEEPER; every
  * other occurrence marks its token positions for removal. A doc's
  * kept text is its surviving tokens in original order, space-joined
  * (the family's layout-independent token space). Overlapping
  * removals can't double-delete: removal is a position MASK (q61b's
  * coverage idea), not per-window splicing.
  *
  * Scale posture: one corpus scan explodes to (doc_id, i, md5) rows;
  * ONE shuffle aggregates each span hash to (n_occ, keeper) — the
  * frequency side is one row per hash, so a mega-shared footer
  * amplifies nothing; the removals join back on the uniform hash key;
  * ONE more shuffle collects removal starts per doc (bounded by the
  * doc's own window count — per-doc state, never corpus-wide); the
  * mask + reassembly is per-row HOF work. The keeper choice is
  * `min_by(struct(doc_id, i))` inside the same aggregation — no
  * window-over-hash pass, so a hash with millions of occurrences
  * still reduces map-side.
  */
object Q60cExciseDuplicates extends GraftQuery {
  val name = "q60c_excise_duplicates"
  import Q60RepeatedSpans.{Width, startsExpr}

  def run(spark: SparkSession, dir: String): DataFrame =
    excise(Tables.documents(spark, dir))

  /** Frame-based surface (doc_id + text) for crafted-corpus specs.
    *
    * Keeper/removal computation is a WINDOW over span_h — ONE
    * exchange of the corpus-scale span frame — not the agg +
    * join-back shape, which exchanges it twice and turns the decade
    * hop superlinear: at the fourth decade (236M span rows, 225M
    * DISTINCT hashes — the bijective corpora make almost every span
    * unique) the giant-key hash aggregate spilled at 245 s and the
    * join-back added 163 s, while the window computes the same
    * removals in 54 s with a near-linear hop (4.8× for 10× data;
    * DiagExcise1000 carries the decomposition, round 18). Same
    * semantics: occurrences of spans seen ≥2× minus the (doc_id, i)
    * minimum keeper — the oracle is unchanged. */
  private[graft] def excise(docs: DataFrame): DataFrame =
    exciseUnsorted(docs).orderBy(col("doc_id"))

  /** The operator WITHOUT the final global sort — the production
    * surface (VERDICT r18 #2). DiagReassemble proved the operator
    * itself linear at the fourth decade (mask/rewrite 11.7 s, hop
    * 9.75) and the superlinear tail to be the driver-dump
    * `orderBy(doc_id)` on the corpus-sized rewritten-text output
    * (39.1 s sorted vs 11.7 s unsorted — a 27 s range-sort spill)
    * which exists only for the oracle gate's deterministic dump.
    * [[writeShards]] consumes this; [[excise]] layers the sort back
    * for the dump contract. */
  private[graft] def exciseUnsorted(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), expr(NorthStar.toksExpr).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val W = org.apache.spark.sql.expressions.Window
      val win = W.partitionBy(col("span_h"))
      val removals = spanPositions(toks)
        .withColumn("n_occ", count(lit(1)).over(win))
        .withColumn("keeper", min(struct(col("doc_id"), col("i"))).over(win))
        .filter(col("n_occ") >= 2 &&
          !(col("doc_id") === col("keeper.doc_id") &&
            col("i") === col("keeper.i")))
        .select(col("doc_id"), col("i"))
      reassembleUnsorted(toks, removals)
    } finally toks.unpersist()
  }

  /** PRODUCTION WRITE TIER (VERDICT r18 #2): the excised corpus as
    * partitioned, UNSORTED parquet shards — the exit a real training
    * pipeline consumes. Each row rides shard = doc_id mod `nShards`
    * and the write goes through Spark's staged file-commit protocol
    * (task-attempt staging under `_temporary`, driver-side publish on
    * job commit — the letters-sink atomicity discipline, here via the
    * built-in committer): a failed or speculated task attempt can
    * never surface a partial shard file. No global sort anywhere in
    * the plan — the one range exchange the dump tier pays for its
    * deterministic `orderBy(doc_id)` is exactly what this tier
    * removes; rows land in whatever order the mask join produces and
    * a consumer needing order sorts its own shard (doc_id mod N keeps
    * each doc whole within one shard). Round19Spec pins write-tier
    * rows ≡ dump-tier rows re-sorted; ScaleBench's
    * `q60c_write_excise` decade row prices it. */
  private[graft] def writeShards(docs: DataFrame, outDir: String,
      nShards: Int = 32): Unit =
    exciseUnsorted(docs)
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)).cast("int"))
      // ONE hash exchange on the shard key — the linear trade that
      // replaces the dump tier's range SORT — so each shard lands
      // wholly in one task and the dynamic-partition write emits one
      // file per shard instead of tasks×shards small files (measured:
      // the per-task fan-out put the 100× write tier ABOVE the
      // noop-sink full excise; one-file-per-shard writes are also
      // what a trainer consumes).
      .repartition(nShards, col("shard"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard").parquet(outDir)

  /** Window-start positions with span hashes over a token frame
    * (doc_id, t): one row per width-window occurrence. Shared with
    * q60d's store tier. */
  private[graft] def spanPositions(toks: DataFrame): DataFrame = {
    val w = Width
    toks
      .filter(size(col("t")) >= w)
      .select(col("doc_id"),
        explode(expr(startsExpr)).as("i"),
        col("t"))
      .select(col("doc_id"), col("i"),
        expr(s"md5(concat_ws(' ', slice(t, i, $w)))").as("span_h"))
  }

  /** Shared excision tail: apply removal window-starts (doc_id, i) to
    * a token frame (doc_id, t) — per-doc starts collect (bounded by
    * the doc's own window count), position mask, reassembly. q60d's
    * store tier reuses this with its own removal rule.
    *
    * The materialization barrier sits on the SMALL side: the per-doc
    * removal starts are localCheckpoint'ed (they are the derived
    * state — removal-hit-sized, never corpus-sized), which both cuts
    * the window/join lineage and lets the caller drop its token
    * cache; the corpus-sized OUTPUT is returned as a lazy plan (one
    * fresh map-only tokenize scan + the checkpointed starts) and
    * STREAMS to whatever sink consumes it. Checkpointing the output
    * itself was measured fatal at the fourth decade: 5M rewritten
    * documents materialized as deserialized heap objects OOM'd an
    * 8 GB driver, while this shape runs the same point in bounded
    * memory — the q62 scalar-only-driver-state rule applied to
    * row-shaped state. */
  private[graft] def reassemble(toks: DataFrame,
      removals: DataFrame): DataFrame =
    reassembleUnsorted(toks, removals).orderBy(col("doc_id"))

  /** [[reassemble]] minus the final dump sort (see
    * [[exciseUnsorted]]). */
  private[graft] def reassembleUnsorted(toks: DataFrame,
      removals: DataFrame): DataFrame = {
    val w = Width
    // Overlapping/adjacent removal windows coalesce into MAXIMAL
    // spans BEFORE the per-doc collect (q60b's gaps-and-islands,
    // interval form): a fully-duplicated region is one (start, end)
    // struct instead of ~region-length starts. This is what made the
    // fourth decade run — collect_list of raw starts built
    // corpus-scale object buffers inside ObjectHashAggregate and
    // OOM'd the 8 GB single-JVM heap at 5M docs, while the coalesced
    // spans are bounded by the count of DISJOINT duplicated regions
    // per doc. The islands window and the final groupBy share the
    // doc_id hash partitioning (one shuffle).
    val W = org.apache.spark.sql.expressions.Window
    val win = W.partitionBy(col("doc_id")).orderBy(col("i"))
    val spans = removals
      .withColumn("prev_end", max(col("i") + lit(w - 1)).over(
        win.rowsBetween(W.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prev_end").isNull || col("i") > col("prev_end") + 1, 1)
          .otherwise(0))
      .withColumn("grp", sum(col("brk")).over(
        win.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("i")).as("s"), (max(col("i")) + lit(w - 1)).as("e"))
    val removalSpans = spans
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
      .localCheckpoint(true)
    toks.join(removalSpans, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        expr("cast(array() as array<struct<s: int, e: int>>)")))
      .withColumn("kept", expr(
        // position mask: token j survives unless a coalesced span
        // covers it; empty-doc guard dodges the descending
        // sequence(1, 0) (ANSI posture, q61b's rule)
        s"""IF(size(t) = 0, cast(array() as array<string>),
           transform(filter(sequence(1, size(t)),
             j_ -> NOT exists(spans,
               sp_ -> j_ >= sp_.s AND j_ <= sp_.e)),
             j_ -> element_at(t, j_)))"""))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_removed"),
        when(size(col("t")) === 0, lit(0.0))
          .otherwise((size(col("t")) - size(col("kept"))).cast("double") /
            size(col("t"))).as("removed_frac"),
        concat_ws(" ", col("kept")).as("cleaned_text"))
  }

  val oracle = Some(s"""
    WITH tt AS (SELECT doc_id, ${NorthStar.duckToks} AS t FROM documents),
    wi AS (SELECT doc_id, t, unnest(range(1, len(t) - ${Width - 2})) AS i
           FROM tt WHERE len(t) >= $Width),
    pos AS (SELECT doc_id, i,
            md5(array_to_string(t[i:i+${Width - 1}], ' ')) AS span_h FROM wi),
    ranked AS (SELECT doc_id, i,
               row_number() OVER (PARTITION BY span_h
                                  ORDER BY doc_id, i) AS rn,
               count(*) OVER (PARTITION BY span_h) AS n_occ FROM pos),
    rem AS (SELECT doc_id, i FROM ranked WHERE n_occ >= 2 AND rn > 1),
    tokp AS (SELECT doc_id, t[j] AS w, j FROM
             (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS j FROM tt)),
    cov AS (SELECT DISTINCT p.doc_id, p.j FROM tokp p JOIN rem r
            ON p.doc_id = r.doc_id
            AND p.j BETWEEN r.i AND r.i + ${Width - 1}),
    keptagg AS (SELECT p.doc_id,
                COUNT(*) AS n_kept,
                COALESCE(string_agg(p.w, ' ' ORDER BY p.j), '') AS cleaned
                FROM tokp p LEFT JOIN cov c
                ON p.doc_id = c.doc_id AND p.j = c.j
                WHERE c.j IS NULL GROUP BY p.doc_id)
    SELECT tt.doc_id,
      CAST(len(tt.t) AS BIGINT) AS n_tokens,
      CAST(len(tt.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
      CASE WHEN len(tt.t) = 0 THEN 0.0
        ELSE CAST(len(tt.t) - COALESCE(k.n_kept, 0) AS DOUBLE) / len(tt.t)
        END AS removed_frac,
      COALESCE(k.cleaned, '') AS cleaned_text
    FROM tt LEFT JOIN keptagg k ON tt.doc_id = k.doc_id
    ORDER BY tt.doc_id
  """.trim)
}

/** Q60d — excision against a PERSISTED span store: the production
  * shape of q60c for incremental ingest. q60c recomputes every corpus
  * window on every run; a real ingest amortizes them — the base
  * corpus's DISTINCT window hashes are written once, bucketed by
  * span_h, and each arriving delta hashes only ITSELF and joins the
  * store with no store-side exchange (the q57b posture). Per-ingest
  * cost is O(delta windows).
  *
  * Contract (deliberately NOT q60c-over-the-union restricted to the
  * delta): the base corpus is IMMUTABLE at ingest time, so a delta
  * occurrence is excised iff its window hash exists ANYWHERE in the
  * base (regardless of doc_id order — the base always wins where
  * q60c's global (doc_id, i) argmin could let a low-numbered delta
  * doc beat a high-numbered base doc), OR an earlier delta occurrence
  * (by (doc_id, i)) has the same hash (intra-delta first-occurrence
  * dedup, q60c's rule applied within the shard). The oracle replays
  * exactly this from `documents` + the q40 split, so the store path
  * is hash-gated end to end, cleaned text included.
  *
  * [[admit]] is the ingest COMMIT: append the delta's surviving
  * (not-previously-present) hashes so the NEXT shard dedups against
  * them — without it, two shards duplicating each other but nothing
  * in the base would both be admitted. Windows created by excision's
  * new token adjacencies are deliberately NOT indexed (batch
  * ExactSubstr has the same between-snapshots behavior); a compaction
  * re-runs q60c.
  */
object Q60dExciseStore extends GraftQuery {
  val name = "q60d_excise_store"
  private val prefix = "graft_spanstore"

  /** DECADE-SCOPED bucket count (round 18, the named q60d residual):
    * the store holds roughly one md5 row per corpus token, so a
    * FIXED 16-bucket layout funnels a fourth-decade corpus's ~225M
    * distinct keys through 14M-row per-bucket sorts at build and
    * per-bucket stitches at serve — the measured disk-bound tail of
    * the excise decades (BASELINE round 18). Sized from the corpus
    * FILE BYTES (metadata only — the exact inputs the store
    * fingerprint reads, so a given fingerprint always re-derives the
    * same count at bind/admit time): 16 buckets per 64 MB of
    * documents parquet, next power of two, clamped to [16, 4096].
    * The fixtures stay at 16 (floors untouched); the 1000× corpus
    * (855 MB) gets 256. */
  private[graft] def spanBuckets(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    val want = math.max(16L, bytes / (64L << 20) * 16L)
    val pow = java.lang.Long.highestOneBit(math.min(want, 4096L))
    (if (pow < want && pow < 4096L) pow * 2 else pow).toInt
  }

  /** Build (once per corpus fingerprint) the bucketed distinct-hash
    * store of the TRAIN split's windows; returns the table name. */
  private[graft] def ensureStore(spark: SparkSession, dir: String): String = {
    val n = spanBuckets(spark, dir)
    graft.plans.Stores.ensure(spark, prefix, dir, Seq("spans"),
      buckets = Map("spans" -> (("span_h", n))),
      layoutVersion = "2" /* decade-scoped bucket count */) {
      case Seq(spansT) =>
      val base = Tables.documents(spark, dir)
        .filter(Q40TrainTestSplit.splitCol === "train")
        .select(col("doc_id"), expr(NorthStar.toksExpr).as("t"))
      graft.plans.Bucketing.writeBucketed(
        Q60cExciseDuplicates.spanPositions(base)
          .select(col("span_h")).distinct(),
        spansT, "span_h", n)
    }.head
  }

  /** Ingest commit: append the delta's hashes that were NOT in the
    * store (exactly the ones whose first occurrence survived), routed
    * through the same bucket spec so the zero-exchange serve posture
    * survives the append. */
  private[graft] def admit(spark: SparkSession, docs: DataFrame,
      spansT: String): Unit = {
    import org.apache.spark.sql.SaveMode
    // Read-repair first (VERDICT r17 #1 — the family the torn-append
    // hazard was OBSERVED on): the anti-join below reads the store,
    // so a part file a killed ingest left torn would fail the admit
    // itself. This admit needs no row-level scrub after the repair —
    // it appends only DISTINCT hashes absent from the store, so
    // replaying a half-landed delta is idempotent by construction
    // (present hashes are anti-joined away, missing ones re-land).
    graft.plans.ReadRepair.repairTable(spark, spansT)
    Q60cExciseDuplicates.spanPositions(
        docs.select(col("doc_id"), expr(NorthStar.toksExpr).as("t")))
      .select(col("span_h")).distinct()
      .join(spark.table(spansT), Seq("span_h"), "left_anti")
      .write.mode(SaveMode.Append).format("parquet")
      // the table's OWN bucket count — appends must route through the
      // spec the store was created with (decade-scoped since round 18)
      .bucketBy(boundBuckets(spark, spansT), "span_h")
      .sortBy("span_h").saveAsTable(spansT)
  }

  /** Operational COMPACTION for the span store's append waves
    * (VERDICT r18 #3 — parity with the media stores and s23b's
    * streamed index): every [[admit]] wave appends at least one file
    * per touched bucket through the bucket spec, so a long-lived
    * store accumulates files linearly in INGESTS while its rows grow
    * only with the corpus — the small-file spiral
    * [[graft.plans.Bucketing.compact]] exists for. Routed through the
    * table's OWN bound bucket count (decade-scoped since round 18),
    * so the zero-exchange serve posture and the [[serve]] row set are
    * both preserved — Round19Spec pins ≥20 admit waves, the file
    * count collapsing to ≤ buckets, serve rows identical pre/post,
    * and no corpus re-scan (compact reads only the store). Repairs
    * first: compact scans every part, so a torn append must be
    * quarantined before, not re-written into the compacted copy. */
  private[graft] def compactStore(spark: SparkSession, spansT: String): Unit = {
    graft.plans.ReadRepair.repairTable(spark, spansT)
    graft.plans.Bucketing.compact(spark, spansT, "span_h",
      boundBuckets(spark, spansT))
  }

  /** The bound store's own bucket count, from catalog metadata — the
    * append/ingest side must route through the spec the store was
    * created with, whatever decade sized it. */
  private def boundBuckets(spark: SparkSession, table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(sys.error(s"$table carries no bucket spec"))

  /** Serve a delta frame (doc_id, text) against an existing store
    * table — the composable surface run() and the two-wave spec
    * share. */
  private[graft] def serve(spark: SparkSession, docs: DataFrame,
      spansT: String): DataFrame = {
    // Read-repair per serve: the span store has no admission log to
    // gate on (its admit is idempotent, see above), so the serve
    // validates the envelope of what it is about to scan — one
    // listing + 12 bytes per part, the same order of driver work as
    // the scan's own file listing.
    graft.plans.ReadRepair.repairTable(spark, spansT)
    val toks = docs
      .select(col("doc_id"), expr(NorthStar.toksExpr).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dpos = Q60cExciseDuplicates.spanPositions(toks)
      val store = spark.table(spansT)
        .select(col("span_h"), lit(true).as("in_store"))
      // the left join and the intra-delta first-occurrence window
      // share the span_h hash partitioning (store side bucketed: no
      // exchange there; delta side shuffles once)
      val ranked = dpos.join(store, Seq("span_h"), "left")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("span_h"))
            .orderBy(col("doc_id"), col("i"))))
      val removals = ranked
        .filter(col("in_store").isNotNull || col("rn") > 1)
        .select(col("doc_id"), col("i"))
      Q60cExciseDuplicates.reassemble(toks, removals)
    } finally toks.unpersist()
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val spansT = ensureStore(spark, dir)
    serve(spark,
      Tables.documents(spark, dir)
        .filter(Q40TrainTestSplit.splitCol === "test")
        .select(col("doc_id"), col("text")),
      spansT)
  }

  val oracle = Some(s"""
    WITH tt AS (SELECT doc_id, ${Q40TrainTestSplit.duckSplit} AS split,
        ${NorthStar.duckToks} AS t FROM documents),
    wi AS (SELECT doc_id, split, t,
           unnest(range(1, len(t) - ${Q60RepeatedSpans.Width - 2})) AS i
           FROM tt WHERE len(t) >= ${Q60RepeatedSpans.Width}),
    pos AS (SELECT doc_id, split, i,
            md5(array_to_string(t[i:i+${Q60RepeatedSpans.Width - 1}], ' '))
              AS span_h FROM wi),
    basehash AS (SELECT DISTINCT span_h FROM pos WHERE split = 'train'),
    dpos AS (SELECT doc_id, i, span_h FROM pos WHERE split = 'test'),
    ranked AS (SELECT doc_id, i, span_h,
               row_number() OVER (PARTITION BY span_h
                                  ORDER BY doc_id, i) AS rn FROM dpos),
    rem AS (SELECT r.doc_id, r.i FROM ranked r
            LEFT JOIN basehash b ON r.span_h = b.span_h
            WHERE b.span_h IS NOT NULL OR r.rn > 1),
    dtt AS (SELECT doc_id, t FROM tt WHERE split = 'test'),
    tokp AS (SELECT doc_id, t[j] AS w, j FROM
             (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS j FROM dtt)),
    cov AS (SELECT DISTINCT p.doc_id, p.j FROM tokp p JOIN rem r
            ON p.doc_id = r.doc_id
            AND p.j BETWEEN r.i AND r.i + ${Q60RepeatedSpans.Width - 1}),
    keptagg AS (SELECT p.doc_id,
                COUNT(*) AS n_kept,
                COALESCE(string_agg(p.w, ' ' ORDER BY p.j), '') AS cleaned
                FROM tokp p LEFT JOIN cov c
                ON p.doc_id = c.doc_id AND p.j = c.j
                WHERE c.j IS NULL GROUP BY p.doc_id)
    SELECT dtt.doc_id,
      CAST(len(dtt.t) AS BIGINT) AS n_tokens,
      CAST(len(dtt.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
      CASE WHEN len(dtt.t) = 0 THEN 0.0
        ELSE CAST(len(dtt.t) - COALESCE(k.n_kept, 0) AS DOUBLE) / len(dtt.t)
        END AS removed_frac,
      COALESCE(k.cleaned, '') AS cleaned_text
    FROM dtt LEFT JOIN keptagg k ON dtt.doc_id = k.doc_id
    ORDER BY dtt.doc_id
  """.trim)
}
