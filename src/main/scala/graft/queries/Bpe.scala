package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.NormalizeWord

/** Q64 — BPE merge-rule learning: the tokenizer-TRAINING step of an
  * LLM data pipeline (Sennrich et al. 2016). q62 measures vocabulary
  * coverage; nothing in the surface so far LEARNS a vocabulary. This
  * operator derives the first K byte-pair-encoding merge rules from
  * the corpus: start from character symbols, repeatedly (1) count
  * adjacent symbol pairs weighted by word frequency, (2) pick the
  * most frequent pair (ties: left asc, right asc — a total order, so
  * the trajectory is deterministic across runs AND engines), (3)
  * replace its greedy left-to-right non-overlapping occurrences with
  * the merged symbol in every word.
  *
  * Scale shape (why BPE distributes this way): the corpus is read
  * ONCE to build the word-frequency table; every iteration after that
  * is VOCABULARY-sized — a per-row merge fold (map-only) plus one
  * pair-count aggregation (map-side-combined BIGINT sums), with
  * exactly one O(1) driver scalar per iteration (the argmax pair —
  * q62's driver-traffic rule). At 100 TB the word table is ~10⁷ rows
  * regardless of corpus size, so K merges cost K vocabulary passes,
  * not K corpus passes. Counts are exact BIGINTs: order-independent
  * sums, no float argmax to drift between engines.
  *
  * The greedy merge is a per-row `aggregate` fold: append each symbol
  * unless the accumulator's last element is `l` and the current is
  * `r`. A fold CANNOT re-merge a just-merged element (its value is
  * l||r, and l||r = l is impossible for nonempty r), so it is exactly
  * the non-overlapping left-to-right scan of the reference algorithm;
  * for the l = r case a run of n identical symbols pairs off as
  * floor(n/2) merges — Round10bSpec pins that case and cross-checks
  * random corpora against an in-memory reference implementation. The
  * oracle expresses the same scan relationally (positions + runs of
  * consecutive matches + odd-parity keep) since the two formulations
  * are equivalent: for l ≠ r two adjacent matches are impossible, and
  * for l = r greedy keeps exactly the odd-indexed matches of each run.
  *
  * Reference anchor: the per-word symbol fold generalizes the
  * reference's per-word normalize step (src/main.cpp:191-208) from a
  * fixed character filter to a learned segmentation.
  */
object Bpe {
  val all: Seq[GraftQuery] =
    Seq(Q64BpeMerges, Q64bBpeEncode, Q64cBpeMergesLocal, Q64dBpeEncodeLocal,
      Q64eBpeEncodeStore, Q64fVocabDrift, Q64gWordpieceEncode,
      Q64hUnigramVocab, Q64iUnigramEncode, Q64jWordpieceEncodeStore,
      Q64kUnigramEncodeStore, Q64lWordpieceDrift, Q64mUnigramDrift,
      Q64nBpeDriftGatedStore, Q64oWordpieceDriftGatedStore,
      Q64pUnigramDriftGatedStore, Q64qSampledDriftGate, Q78DriftConsole)

  /** Longest ARRIVING word the drift gates measure through the
    * relational encode unroll (q64o's greedy fold / q64p's Viterbi DP
    * run one broadcast-join step per consumed char, so the depth is
    * data-derived — ADVICE r15 medium). This cap bounds the blast
    * radius of the derivation (the round-16 review): a pathological
    * 5,000-char "word" in one micro-batch must not schedule 5,000
    * sequential join+checkpoint jobs per epoch per family. 64 chars
    * clears every natural-language word by a wide margin (the longest
    * common English dictionary word is 45); anything longer is
    * counted OOV/[UNK] BY CONTRACT — for a drift gate, arriving
    * pseudo-words that long are drift evidence, not vocabulary, and
    * they land in the oov/unk arm that trips retrain rather than
    * silently passing. */
  // `final` so the literal constant-folds at compile time: the value
  // is read inside sibling objects' `val oracle` initializers, and a
  // non-inlined read during an object-init cycle would see 0.
  private[graft] final val MaxMeasuredWordLen = 64

  /** The ONE corpus-scale step of BPE learning: token/normalize (q1's
    * definition) and the word-frequency reduction. Everything after
    * this frame is vocabulary-sized. Shared by the Spark-iterative
    * learner (q64) and the driver-local learner (q64c). */
  private[graft] def wordFreq(spark: SparkSession, dir: String): DataFrame =
    wordFreqOf(Tables.documents(spark, dir))

  /** Same reduction over an arbitrary documents frame (q64f trains
    * on the train split only). */
  private[graft] def wordFreqOf(docs: DataFrame): DataFrame =
    InvertedIndex.words(docs)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
}

object Q64BpeMerges extends GraftQuery {
  val name = "q64_bpe_merges"
  /** Fixed merge budget — the contract, like q59's 5 iterations. */
  val Merges = 6

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    learn(spark, dir)._1
      .toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** Learn the merge trajectory AND return the final word→symbols
    * table (word, cnt, syms) — q64 surfaces the former, q64b encodes
    * the corpus with the latter (a vocab-sized dictionary, so the
    * apply step is a join, never a re-fold over the corpus). */
  private[graft] def learn(spark: SparkSession, dir: String)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    // One corpus pass → (word, cnt, syms): q1's token/normalize
    // definition, then word-frequency weights and initial character
    // symbols.
    // localCheckpoint per iteration: each step's argmax is an action,
    // and without a barrier iteration k would replay folds 1..k-1 on
    // top of the corpus scan (the q57 branch rule, iterated). Lazy
    // (eager=false): the very next argmax action materializes it, so
    // each iteration costs ONE job instead of a checkpoint job + an
    // argmax job — same barrier, half the fixed scheduling overhead.
    var words = Bpe.wordFreq(spark, dir)
      .select(col("word"), col("cnt"), expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"))
      .localCheckpoint(false)
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var exhausted = false
    for (k <- 1 to Merges if !exhausted) {
      // zip_with of the array against its own tail: adjacent pairs
      // without the sequence(1,0) descending-range trap on 1-symbol
      // words (slice of length 0 is empty; sequence(1,0) is [1,0]).
      val top = words
        .select(col("cnt"), explode(expr(
          "zip_with(slice(syms, 1, size(syms) - 1), " +
            "slice(syms, 2, size(syms) - 1), " +
            "(a, b) -> named_struct('l', a, 'r', b))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every word fully merged
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, l, r, l + r, n))
        // Symbols are [a-z]+ by construction (q1 normalization), so the
        // literals embed safely. CASE branches are lazy: element_at
        // never sees an empty accumulator.
        words = words.select(col("word"), col("cnt"), expr(
          s"""aggregate(syms, CAST(array() AS array<string>), (acc, s) ->
              CASE WHEN size(acc) = 0 THEN array(s)
                   WHEN element_at(acc, -1) = '$l' AND s = '$r'
                   THEN concat(slice(acc, 1, size(acc) - 1), array('${l + r}'))
                   ELSE concat(acc, array(s)) END)""").as("syms"))
          .localCheckpoint(false)
      }
    }
    (merges.toSeq, words)
  }

  /** One unrolled iteration k of the relational formulation:
    * pair counts via lead(), 1-row argmax, match flags, runs of
    * consecutive matches (gaps-and-islands), odd-parity merge starts,
    * rebuild with re-indexed positions. */
  private def duckIter(k: Int): String = {
    val p = k - 1
    s"""pc$k AS (SELECT sym AS l, nx AS r, CAST(SUM(cnt) AS BIGINT) AS n
      FROM (SELECT cnt, sym, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nx FROM s$p)
      WHERE nx IS NOT NULL GROUP BY 1, 2),
    b$k AS (SELECT l, r, n FROM pc$k ORDER BY n DESC, l ASC, r ASC LIMIT 1),
    m$k AS (SELECT wid, cnt, pos, sym,
        lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nx,
        coalesce(sym = b.l AND lead(sym) OVER (PARTITION BY wid ORDER BY pos) = b.r, FALSE) AS mt
      FROM s$p LEFT JOIN b$k b ON TRUE),
    g$k AS (SELECT wid, cnt, pos, sym, nx, mt,
        pos - SUM(CASE WHEN mt THEN 1 ELSE 0 END) OVER (PARTITION BY wid ORDER BY pos) AS grp
      FROM m$k),
    k$k AS (SELECT wid, cnt, pos, sym, nx,
        mt AND (row_number() OVER (PARTITION BY wid, mt, grp ORDER BY pos) % 2 = 1) AS st
      FROM g$k),
    s$k AS (SELECT wid, cnt, row_number() OVER (PARTITION BY wid ORDER BY pos) AS pos,
        CASE WHEN st THEN sym || nx ELSE sym END AS sym
      FROM (SELECT wid, cnt, pos, sym, nx, st,
              coalesce(lag(st) OVER (PARTITION BY wid ORDER BY pos), FALSE) AS pst
            FROM k$k)
      WHERE NOT pst)"""
  }

  /** The full learning chain — word frequencies, per-position symbol
    * table s0, and Merges unrolled iterations ending in s`Merges` (the
    * final symbol table). Shared with q64b's encode oracle. The
    * LEFT JOIN ON TRUE in each iteration makes exhaustion (empty
    * argmax) carry s_{k-1} through unchanged, mirroring the Spark
    * loop's early exit. */
  private[queries] def duckChain: String = duckChainOver("TRUE")

  /** Same chain with the source documents filtered — q64f learns on
    * the train split only. */
  private[queries] def duckChainOver(where: String): String =
    s"""words AS (SELECT word, count(*) AS cnt FROM
        (SELECT lower(regexp_replace(unnest(string_split_regex(text, '\\s+')), '[^a-zA-Z]', '', 'g')) AS word
         FROM documents WHERE $where)
      WHERE length(word) > 0 GROUP BY word),
    s0 AS (SELECT word AS wid, cnt,
        unnest(generate_series(1, length(word))) AS pos,
        unnest(string_split(word, '')) AS sym
      FROM words),
    ${(1 to Merges).map(duckIter).mkString(",\n    ")}"""

  val oracle = Some {
    val rows = (1 to Merges).map { k =>
      val head = if (k == 1)
        "SELECT 1 AS merge_rank, l AS left_sym, r AS right_sym, l || r AS merged, n AS pair_count"
      else s"SELECT $k, l, r, l || r, n"
      s"$head FROM b$k"
    }.mkString("\n      UNION ALL ")
    s"""
    WITH $duckChain
    SELECT merge_rank, left_sym, right_sym, merged, pair_count FROM (
      $rows)
    ORDER BY merge_rank
    """.trim
  }
}

/** Q64b — BPE ENCODE: apply q64's learned merge rules to the corpus
  * and report per-language tokenizer fertility (BPE tokens per word —
  * the statistic tokenizer papers use to compare vocabularies across
  * languages, and the capacity-planning number for a training run:
  * total_bpe_tokens IS the token budget the corpus contributes).
  *
  * Scale shape — encode is a JOIN, never a re-fold: the learning loop
  * already reduced every distinct word to its merged symbol sequence,
  * so the corpus-scale step is one tokenize pass joined against the
  * vocab-sized dictionary (word → token count). At 100 TB that is one
  * equi-join of the token stream against ~10⁷ dictionary rows
  * (shuffle-hash; small enough to beat re-running K folds over 100 TB
  * by the corpus/vocab ratio). The inner join is lossless by
  * construction: the dictionary was built from the same corpus pass,
  * so every normalized word hits. Fertility is surfaced UNROUNDED —
  * one IEEE division of two exact BIGINTs (the GraftQuery ratio rule).
  *
  * Reference anchor: the dictionary join generalizes the reference's
  * reduce-side word lookup (src/main.cpp:260-279) from exact word
  * counts to learned-subword counts.
  */
object Q64bBpeEncode extends GraftQuery {
  val name = "q64b_bpe_encode"

  /** Per-language MERGEABLE encode partials of an arbitrary frame of
    * document rows against a (word, ntok) dictionary: one tokenize
    * pass equi-joined with the dictionary, reduced to exact BIGINT
    * counts. Mergeable across disjoint document sets by plain SUM
    * (docs are row-atomic, so per-set distinct-doc counts add) — the
    * q65 partials contract, which is what lets s15 maintain the same
    * statistics per ingest epoch; fertility is derived AFTER the
    * final merge ([[finishFertility]]), never averaged per side. */
  private[graft] def encodePartials(docs: DataFrame,
      dict: DataFrame): DataFrame =
    InvertedIndex.words(docs, "doc_id", "lang")
      .join(dict, "word")
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("total_words"),
        sum(col("ntok")).as("total_bpe_tokens"))

  /** Merge partial rows to one row per language and attach the
    * derived fertility (one IEEE division of merged exact BIGINTs —
    * the GraftQuery ratio rule). */
  private[graft] def finishFertility(parts: DataFrame): DataFrame =
    parts.groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_words")).as("total_words"),
        sum(col("total_bpe_tokens")).as("total_bpe_tokens"))
      .withColumn("fertility",
        col("total_bpe_tokens").cast("double") / col("total_words"))
      .orderBy(col("lang"))

  /** The corpus-scale encode step shared by the learning tiers. */
  private[queries] def fertility(spark: SparkSession, dir: String,
      dict: DataFrame): DataFrame =
    finishFertility(encodePartials(Tables.documents(spark, dir), dict))

  def run(spark: SparkSession, dir: String): DataFrame =
    fertility(spark, dir,
      Q64BpeMerges.learn(spark, dir)._2
        .select(col("word"), size(col("syms")).cast("long").as("ntok")))

  val oracle = Some {
    s"""
    WITH ${Q64BpeMerges.duckChain},
    dict AS (SELECT wid AS word, CAST(count(*) AS BIGINT) AS ntok
      FROM s${Q64BpeMerges.Merges} GROUP BY wid),
    dw AS (SELECT doc_id, lang,
        lower(regexp_replace(unnest(string_split_regex(text, '\\s+')), '[^a-zA-Z]', '', 'g')) AS word
      FROM documents)
    SELECT lang,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      CAST(count(*) AS BIGINT) AS total_words,
      CAST(sum(ntok) AS BIGINT) AS total_bpe_tokens,
      CAST(sum(ntok) AS DOUBLE) / count(*) AS fertility
    FROM dw JOIN dict USING (word)
    WHERE length(word) > 0
    GROUP BY lang
    ORDER BY lang
    """.trim
  }
}

/** Q64c — BPE merge learning, DRIVER-LOCAL tier: the production-shape
  * learner for real merge budgets (K ≈ 30k). q64's Spark-iterative
  * loop is the distributed formulation, but it schedules one Spark job
  * per merge — 30k sequential jobs at deploy scale, each paying fixed
  * scheduling latency on a table that after the first corpus scan is
  * only VOCABULARY-sized (~10⁷ rows at 100 TB, bounded by language,
  * not data volume). This tier does what a production tokenizer
  * trainer does: one distributed corpus scan to the (word, cnt) table,
  * ONE bounded collect of that table, then the entire merge trajectory
  * in driver memory with the classic incrementally-maintained
  * pair-count structure — no per-merge cluster round-trips at all.
  *
  * Driver-traffic justification (the q62 O(P)-scalar rule, extended):
  * the collect is vocab-sized by CONSTRUCTION — `wordFreq` is a
  * groupBy on normalized words, so its cardinality is the language's
  * vocabulary, invariant under corpus growth. At 100 TB a ~10⁷-row
  * (word, cnt) table is ~200 MB on a driver sized for a 1000-executor
  * cluster; the alternative costs 30k sequential jobs.
  *
  * In-memory algorithm (Sennrich et al. 2016, the optimized variant):
  * pair counts are maintained INCREMENTALLY — a merge only touches
  * words that contain the merged pair (tracked by an inverted
  * pair→words index), delta-updating counts in a tree ordered by
  * (count desc, left asc, right asc) for O(log n) argmax. Per-merge
  * cost is O(affected words × word length), not O(vocabulary): the
  * per-merge cost collapses as training proceeds because later, rarer
  * pairs touch ever fewer words. Tie-break and greedy non-overlapping
  * semantics are IDENTICAL to q64's — same exact BIGINT counts, same
  * (count desc, l asc, r asc) total order — so the trajectory is
  * bit-identical; q64c shares q64's DuckDB oracle, and Round11Spec
  * cross-checks the incremental structure against the naive recount
  * reference at K ≥ 120.
  *
  * Reference anchor: same per-word merge semantics as q64
  * (src/main.cpp:191-208 generalized); the driver-local tier is the
  * engine's answer to the reference's single-process layout — used
  * here because the problem is genuinely vocabulary-local after one
  * distributed reduction.
  */
object Q64cBpeMergesLocal extends GraftQuery {
  val name = "q64c_bpe_merges_local"

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val freq = Bpe.wordFreq(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    learnInMemory(freq, Q64BpeMerges.Merges)._1
      .toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** Same trajectory as q64 — same oracle. */
  val oracle: Option[String] = Q64BpeMerges.oracle

  /** Greedy left-to-right non-overlapping replacement of (l, r) —
    * the same scan as q64's fold (a fold cannot re-merge a just-merged
    * element) and the published algorithm's merge step. */
  private def greedyMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
        b += (l + r); j += 2
      } else { b += syms(j); j += 1 }
    }
    b.result()
  }

  /** Adjacent-pair multiset of a symbol sequence (every position,
    * overlapping included — "aaaa" has (a,a) with multiplicity 3,
    * matching q64's zip_with counting). */
  private def pairMult(syms: Vector[String]): Map[(String, String), Long] = {
    val m = scala.collection.mutable.Map.empty[(String, String), Long]
    var j = 0
    while (j < syms.length - 1) {
      val p = (syms(j), syms(j + 1))
      m(p) = m.getOrElse(p, 0L) + 1L
      j += 1
    }
    m.toMap
  }

  /** Learn the full merge trajectory in memory. Returns the trajectory
    * and the final word → token-count map (the q64b dictionary shape,
    * ready to broadcast back for an encode join).
    *
    * Structures: `count` is the live pair-count map; `order` is a tree
    * of (count, l, r) sorted by (count desc, l asc, r asc) kept in
    * lock-step with `count` (remove-before-update, insert-after) so
    * argmax is `order.head`; `occurs` is the inverted pair → word-ids
    * index so a merge visits ONLY words containing the pair. */
  private[graft] def learnInMemory(freq: Seq[(String, Long)], k: Int)
      : (Seq[(Int, String, String, String, Long)], Map[String, Int]) = {
    val words = freq.map(_._1).toArray
    val cnts = freq.map(_._2).toArray
    val syms = words.map(w => w.map(_.toString).toVector)

    val count = scala.collection.mutable.Map.empty[(String, String), Long]
    val occurs = scala.collection.mutable.Map.empty[(String, String), scala.collection.mutable.Set[Int]]
    val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.String, Ordering.String)
    val order = scala.collection.mutable.TreeSet.empty[(Long, String, String)](ord)

    def adjust(p: (String, String), delta: Long): Unit = {
      val old = count.getOrElse(p, 0L)
      if (old != 0L) order.remove((old, p._1, p._2))
      val nw = old + delta
      if (nw != 0L) { count(p) = nw; order.add((nw, p._1, p._2)) }
      else count.remove(p)
    }

    for (i <- syms.indices; (p, m) <- pairMult(syms(i))) {
      adjust(p, m * cnts(i))
      occurs.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += i
    }

    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var iter = 1
    while (iter <= k && order.nonEmpty) {
      val (n, l, r) = order.head
      out += ((iter, l, r, l + r, n))
      val affected = occurs.getOrElse((l, r), scala.collection.mutable.Set.empty).toArray
      for (i <- affected) {
        val before = syms(i)
        val after = greedyMerge(before, l, r)
        val oldP = pairMult(before)
        val newP = pairMult(after)
        for ((p, m) <- oldP) adjust(p, -m * cnts(i))
        for ((p, m) <- newP) adjust(p, m * cnts(i))
        for (p <- oldP.keySet if !newP.contains(p))
          occurs.get(p).foreach { s => s -= i; if (s.isEmpty) occurs.remove(p) }
        for (p <- newP.keySet if !oldP.contains(p))
          occurs.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += i
        syms(i) = after
      }
      iter += 1
    }
    (out.toSeq, words.indices.map(i => words(i) -> syms(i).length).toMap)
  }
}

/** Q64d — the PRODUCTION tokenizer pipeline end-to-end: q64c's
  * driver-local learning tier feeding q64b's corpus-scale encode
  * join, with the dictionary BROADCAST back to the executors (it is
  * vocab-sized by construction — the same bound that justified the
  * collect). This is the full deploy shape: one corpus scan → bounded
  * collect → in-memory trajectory (no per-merge jobs) → broadcast
  * (word, ntok) dictionary → one tokenize-and-join pass over the
  * corpus. Same fertility table as q64b — SHARES its oracle: the two
  * learning tiers must be indistinguishable downstream, and the hash
  * gate holds them to it. */
object Q64dBpeEncodeLocal extends GraftQuery {
  val name = "q64d_bpe_encode_local"

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val freq = Bpe.wordFreq(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val ntok = Q64cBpeMergesLocal.learnInMemory(freq, Q64BpeMerges.Merges)._2
    val dict = broadcast(
      ntok.toSeq.map { case (w, n) => (w, n.toLong) }.toDF("word", "ntok"))
    Q64bBpeEncode.fertility(spark, dir, dict)
  }

  val oracle: Option[String] = Q64bBpeEncode.oracle
}

/** Q64e — PERSISTED tokenizer vocabulary: the q57b/q65 store
  * lifecycle applied to the tokenizer artifact. q64d still re-learns
  * the trajectory on every run; a production pipeline trains the
  * tokenizer ONCE per corpus snapshot and every encode job — batch or
  * streaming, today or next month — reads the stored vocabulary. The
  * (word, ntok) table is built through `plans/Stores` (fingerprint-
  * named, cross-process file-lock + commit-marker protocol, bind-from-
  * marker for fresh catalogs), so regenerated corpora can never serve
  * a stale vocabulary and two sessions sharing the warehouse train at
  * most once. The encode is q64b's corpus-scale join against the
  * store table (broadcast — the store is vocab-sized). SHARES q64b's
  * oracle: recompute tier (q64b), in-memory tier (q64d) and store
  * tier (q64e) must be row-identical, and the hash gate holds all
  * three to it. */
object Q64eBpeEncodeStore extends GraftQuery {
  val name = "q64e_bpe_encode_store"
  private val prefix = "graft_bpestore"

  /** Build (or reuse) the persisted vocabulary for this corpus
    * fingerprint; returns the table name. */
  private[graft] def ensureVocab(spark: SparkSession, dir: String): String =
    graft.plans.Stores.ensure(spark, prefix, dir, Seq("vocab")) {
      case Seq(vocabT) =>
        import spark.implicits._
        val freq = Bpe.wordFreq(spark, dir).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        val ntok = Q64cBpeMergesLocal.learnInMemory(freq, Q64BpeMerges.Merges)._2
        ntok.toSeq.map { case (w, n) => (w, n.toLong) }
          .toDF("word", "ntok")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(vocabT)
    }.head

  def run(spark: SparkSession, dir: String): DataFrame = {
    val vocabT = ensureVocab(spark, dir)
    Q64bBpeEncode.fertility(spark, dir, broadcast(spark.table(vocabT)))
  }

  val oracle: Option[String] = Q64bBpeEncode.oracle
}

/** Q64f — VOCABULARY DRIFT / retrain trigger: the operational query
  * that decides when a persisted tokenizer (q64e's store) should be
  * retrained, closing the loop the store lifecycle leaves open (a
  * fingerprint flip rebuilds on ANY corpus change; a production
  * pipeline retrains on MEANINGFUL drift). Two signals per language,
  * both measured against the vocabulary learned from the INDEXED
  * corpus (the train split) and applied to the arriving delta (the
  * test split):
  *
  *  - `oov_rate` — fraction of delta words absent from the trained
  *    vocabulary. The loud signal at deploy (new domains, new
  *    languages); the fixture's splits share one vocabulary, so it
  *    reads 0 here and the oracle checks exactly that.
  *  - `rel_drift` — relative change of tokenizer fertility on the
  *    delta's in-vocabulary words vs the train split's own fertility:
  *    the word MIX shifting under a fixed segmentation (s15's
  *    fertility trend, reduced to a decision). Live on the fixture
  *    (0.002–0.02 across languages), so the threshold splits the
  *    verdicts and the retrain flag is a real, hash-checked decision.
  *
  * Determinism: fertilities are single IEEE divisions of exact
  * BIGINTs; rel_drift is abs/div over those bit-equal doubles;
  * retrain compares them to literal thresholds — all engine-exact.
  *
  * 100 TB posture: one tokenize pass per side (train side priced once
  * per snapshot in production — it IS q64e's stored fertility),
  * broadcast dictionary join, per-language aggregation. The learn
  * step is q64c's driver-local tier over the train-split vocabulary. */
object Q64fVocabDrift extends GraftQuery {
  val name = "q64f_vocab_drift"
  /** Relative fertility-drift retrain trigger (fixture-calibrated so
    * both verdicts occur; a deployment tunes it like q25d's bandBits). */
  val DriftThreshold = 0.01
  /** OOV-rate retrain trigger. */
  val OovThreshold = 0.01

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(Q40TrainTestSplit.splitCol === "train")
    val test = docs.filter(Q40TrainTestSplit.splitCol === "test")
    val freq = Bpe.wordFreqOf(train).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val ntok = Q64cBpeMergesLocal.learnInMemory(freq, Q64BpeMerges.Merges)._2
    val dict = broadcast(ntok.toSeq.map { case (w, n) => (w, n.toLong) }
      .toDF("word", "ntok"))
    def words(d: DataFrame) = InvertedIndex.words(d, "lang")
    // Train side: the dictionary was learned from these words, so the
    // inner join is lossless and count(*) is the full word count.
    val trainStats = words(train).join(dict, "word")
      .groupBy(col("lang"))
      .agg((sum(col("ntok")).cast("double") / count(lit(1)))
        .as("train_fertility"))
    val deltaStats = words(test).join(dict, Seq("word"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("delta_words"),
        sum(when(col("ntok").isNull, 1L).otherwise(0L)).as("oov_words"),
        sum(coalesce(col("ntok"), lit(0L))).as("invocab_ntok"),
        sum(when(col("ntok").isNull, 0L).otherwise(1L)).as("invocab_words"))
    trainStats.join(deltaStats, "lang")
      .select(col("lang"), col("train_fertility"),
        (col("invocab_ntok").cast("double") / col("invocab_words"))
          .as("delta_fertility"),
        (col("oov_words").cast("double") / col("delta_words")).as("oov_rate"),
        col("delta_words"), col("oov_words"))
      .withColumn("rel_drift",
        abs(col("delta_fertility") - col("train_fertility"))
          / col("train_fertility"))
      .withColumn("retrain",
        col("oov_rate") > OovThreshold || col("rel_drift") > DriftThreshold)
      .orderBy(col("lang"))
  }

  val oracle = Some {
    val sK = s"s${Q64BpeMerges.Merges}"
    s"""
    WITH ${Q64BpeMerges.duckChainOver(s"(${Q40TrainTestSplit.duckSplit}) = 'train'")},
    dict AS (SELECT wid AS word, CAST(count(*) AS BIGINT) AS ntok
             FROM $sK GROUP BY wid),
    d AS (SELECT lang, text, ${Q40TrainTestSplit.duckSplit} AS split
          FROM documents),
    w AS (SELECT lang, split,
        lower(regexp_replace(unnest(string_split_regex(text, '\\s+')), '[^a-zA-Z]', '', 'g')) AS word
      FROM d),
    ww AS (SELECT * FROM w WHERE length(word) > 0),
    tr AS (SELECT lang,
        CAST(SUM(ntok) AS DOUBLE) / count(*) AS train_fertility
      FROM ww JOIN dict USING (word) WHERE split = 'train' GROUP BY lang),
    de AS (SELECT lang,
        CAST(count(*) AS BIGINT) AS delta_words,
        CAST(SUM(CASE WHEN dict.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_words,
        CAST(SUM(CASE WHEN dict.word IS NULL THEN 0 ELSE ntok END) AS BIGINT) AS invocab_ntok,
        CAST(SUM(CASE WHEN dict.word IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS invocab_words
      FROM ww LEFT JOIN dict ON dict.word = ww.word
      WHERE split = 'test' GROUP BY lang)
    SELECT tr.lang, tr.train_fertility,
      CAST(invocab_ntok AS DOUBLE) / invocab_words AS delta_fertility,
      CAST(oov_words AS DOUBLE) / delta_words AS oov_rate,
      delta_words, oov_words,
      abs((CAST(invocab_ntok AS DOUBLE) / invocab_words) - tr.train_fertility)
        / tr.train_fertility AS rel_drift,
      (CAST(oov_words AS DOUBLE) / delta_words > $OovThreshold
        OR abs((CAST(invocab_ntok AS DOUBLE) / invocab_words) - tr.train_fertility)
             / tr.train_fertility > $DriftThreshold) AS retrain
    FROM tr JOIN de ON de.lang = tr.lang
    ORDER BY tr.lang
    """.trim
  }
}

/** Q64g — WordPiece encode (Wu et al. 2016; the BERT tokenizer): the
  * OTHER major published subword tokenizer beside BPE, with a
  * fundamentally different encode rule — greedy LONGEST-MATCH-FIRST
  * against a piece vocabulary (word-initial pieces vs `##`
  * continuation pieces), with whole-word `[UNK]` fallback when no
  * piece matches at some position — where q64b/d/e replay a learned
  * MERGE sequence. Completing the tokenizer family with it matters
  * because the two algorithms fail differently: BPE always produces
  * SOME segmentation; WordPiece's [UNK] is a data-quality signal of
  * its own.
  *
  * The vocabulary is a pinned config artifact (as in production — a
  * vocab ships with the model; training it is q64's business): chosen
  * so the fixture exercises every decision — whole-word longest match
  * beating a shorter prefix ('table' over 'tab'+'##le', both
  * present), multi-piece splits through both multi-char and
  * single-char continuations, and a real [UNK] ('dup': 'd' matches,
  * then no continuation covers 'u' — deliberate hole).
  *
  * Per word the encode is one bounded fold (≤ word length steps, each
  * step probing piece lengths longest-first via one array_contains on
  * the constant-folded vocab literal); per doc it is a transform over
  * the token array — map-only, no shuffle before the final sort, the
  * q64b posture without even a broadcast join (the vocab rides in the
  * plan as a literal; a production-sized vocab would move to q64e's
  * broadcast-store form). The oracle replays the greedy loop
  * RELATIONALLY: distinct words × an unrolled 10-step
  * longest-match-per-position chain (max fixture word is 8 chars;
  * each matching step advances ≥ 1), then joins back per document.
  */
object Q64gWordpieceEncode extends GraftQuery {
  val name = "q64g_wordpiece_encode"

  /** Word-initial pieces (matched at position 1, emitted bare). */
  private[queries] val InitPieces = Seq(
    "a", "b", "c", "d", "f", "g", "m", "o", "q", "s", "v",
    "the", "tab", "table", "data", "hash", "join", "key", "line",
    "part", "row", "scan", "slow", "small", "sort", "spark",
    "cust", "val", "win")
  /** Continuation pieces (matched past position 1, emitted with ##).
    * No 'u' coverage by design — 'dup' must hit [UNK]. */
  private[queries] val ContPieces = Seq(
    "a", "d", "e", "g", "i", "l", "m", "o", "r", "t",
    "atch", "ast", "dow", "ector", "erge", "le", "olumn", "omer",
    "roup", "tream", "ue", "uery")
  /** Longest piece is 5 chars; probe one past it. */
  private[queries] val MaxProbe = 6

  /** Historical fixed unroll depth (still the unigram family's
    * training-chain bound). Since round 17 the WORDPIECE family no
    * longer uses it: every WP tier — literal expr, store encode,
    * drift measurement — and every WP oracle chain shares ONE depth
    * contract, [[Bpe.MaxMeasuredWordLen]]: words ≤ that length are
    * encoded exactly (greedy consumes ≥ 1 char/step, so
    * MaxMeasuredWordLen oracle steps always finish them), longer
    * words are [UNK] BY EXPLICIT GUARD on both engines (ADVICE r16:
    * a fixed 10-step oracle against a data-derived Spark fold made
    * any fully-covered 11+-char word a silent red-hash trap). */
  private[graft] val OracleSteps = 10

  private def arr(ps: Seq[String]) =
    ps.map(p => s"'$p'").mkString("array(", ", ", ")")

  /** (word → piece count, UNK flag) for a distinct-word frame — the
    * drift tier's dictionary (q64l): one greedy fold per DISTINCT
    * word, vocabulary-sized work, the q64b join-not-refold rule. */
  private[queries] def wordDict(words: DataFrame): DataFrame =
    words.select(col("word"),
        expr(NorthStar.let("w_", "word", encodeWordExpr)).as("enc"))
      .select(col("word"),
        when(col("enc") =!= "[UNK]",
          size(split(col("enc"), " ")).cast("long")).as("ntok"),
        (col("enc") === "[UNK]").as("unk"))

  /** Greedy fold over one word bound as `w_`. */
  private def encodeWordExpr: String = {
    val init = arr(InitPieces)
    val cont = arr(ContPieces)
    val step =
      "element_at(transform(array(" +
        "array_max(filter(transform(" +
        s"sequence(1, least($MaxProbe, length(w_) - st.pos + 1)), " +
        s"l_ -> IF(array_contains(IF(st.pos > 1, $cont, $init), " +
        "substring(w_, st.pos, l_)), l_, NULL)), " +
        "x_ -> x_ IS NOT NULL))), ml_ -> " +
        "IF(ml_ IS NULL, " +
        "named_struct('pos', st.pos, 'acc', st.acc, 'unk', true), " +
        "named_struct('pos', st.pos + ml_, " +
        "'acc', concat(st.acc, IF(st.acc = '', '', ' '), " +
        "IF(st.pos > 1, '##', ''), substring(w_, st.pos, ml_)), " +
        "'unk', false))), 1)"
    // Over-length guard: the shared WP depth contract (words past
    // MaxMeasuredWordLen are [UNK] on BOTH engines, even when greedy
    // multi-char pieces could finish them — without the guard a
    // 65-char word of 5-char pieces would encode here but [UNK] in
    // the MaxMeasuredWordLen-step oracle chain).
    s"IF(length(w_) > ${Bpe.MaxMeasuredWordLen}, '[UNK]', " +
      "aggregate(sequence(1, length(w_)), " +
      "named_struct('pos', 1, 'acc', '', 'unk', false), " +
      s"(st, k_) -> IF(st.unk OR st.pos > length(w_), st, $step), " +
      "st -> IF(st.unk, '[UNK]', st.acc)))"
  }

  private[graft] def encode(docs: DataFrame): DataFrame = {
    import NorthStar.let
    val body = let("t_", NorthStar.toksExpr,
      let("enc_", s"transform(t_, w_ -> $encodeWordExpr)",
        "named_struct(" +
          "'n_words', cast(size(t_) as bigint), " +
          "'n_pieces', aggregate(enc_, cast(0 as bigint), " +
          "(pa_, pe_) -> pa_ + size(split(pe_, ' '))), " +
          "'n_unk', cast(size(filter(enc_, e_ -> e_ = '[UNK]')) as bigint), " +
          "'encoded', array_join(enc_, ' '))"))
    docs.select(col("doc_id"), inline(array(expr(body))))
      .orderBy(col("doc_id"))
  }

  def run(spark: SparkSession, dir: String): DataFrame =
    // wide spread (r19): this tier is ONE dominant map stage (the
    // per-word greedy fold) — measured 0.97 s at full width vs 2.0 s
    // at the composite default (OPTIMIZATION_r19.md width sweep).
    encode(Tables.documents(spark, dir, wide = true))

  /** CTE chain `v, s0..sN, enc(w, ew)` — the greedy encode of every
    * word in a caller-provided CTE `<src>(w)`, UNK included; shared
    * by q64g's per-doc oracle and q64l's drift oracle.
    *
    * `nSteps` defaults to the family-wide depth contract
    * ([[Bpe.MaxMeasuredWordLen]] — every word ≤ the bound finishes,
    * longer words are [UNK] by the explicit guard below, exactly the
    * Spark tiers' contract; ADVICE r16). Finished words pass through
    * extra rounds untouched, so a deeper chain is idempotent. */
  private[queries] def duckEncChain(src: String,
      nSteps: Int = Bpe.MaxMeasuredWordLen): String = {
    val Steps = nSteps
    val vals = (InitPieces.map(p => s"('$p', 0)") ++
      ContPieces.map(p => s"('$p', 1)")).mkString(", ")
    val steps = (1 to Steps).map { k =>
      s"""c$k AS (SELECT s.w, s.pos, s.acc, s.unk, max(length(v.piece)) AS ml
        FROM s${k - 1} s LEFT JOIN v
          ON v.cont = CASE WHEN s.pos > 1 THEN 1 ELSE 0 END
         AND s.pos <= length(s.w) AND NOT s.unk
         AND substr(s.w, s.pos, length(v.piece)) = v.piece
        GROUP BY 1, 2, 3, 4),
      s$k AS MATERIALIZED (SELECT w,
        CASE WHEN unk OR pos > length(w) OR ml IS NULL THEN pos
             ELSE pos + ml END AS pos,
        CASE WHEN unk OR pos > length(w) OR ml IS NULL THEN acc
             ELSE acc || CASE WHEN acc = '' THEN '' ELSE ' ' END ||
                  CASE WHEN pos > 1 THEN '##' ELSE '' END ||
                  substr(w, pos, ml) END AS acc,
        CASE WHEN unk THEN true
             WHEN pos > length(w) THEN false
             WHEN ml IS NULL THEN true ELSE false END AS unk
        FROM c$k)""" }.mkString(",\n      ")
    s"""v AS (SELECT * FROM (VALUES $vals) AS t(piece, cont)),
    s0 AS (SELECT DISTINCT w, 1 AS pos, '' AS acc, false AS unk FROM $src),
    $steps,
    enc AS (SELECT w, CASE WHEN length(w) > ${Bpe.MaxMeasuredWordLen}
              OR unk OR pos <= length(w) THEN '[UNK]'
            ELSE acc END AS ew FROM s$Steps)"""
  }

  val oracle = Some {
    s"""
    WITH base AS (SELECT doc_id, ${NorthStar.duckToks} AS t FROM documents),
    wt AS (SELECT doc_id, t[wi] AS w, wi FROM
           (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS wi FROM base)),
    ${duckEncChain("wt")},
    perdoc AS (SELECT wt.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_words,
      CAST(SUM(len(string_split(e.ew, ' '))) AS BIGINT) AS n_pieces,
      CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_unk,
      string_agg(e.ew, ' ' ORDER BY wt.wi) AS encoded
      FROM wt JOIN enc e ON wt.w = e.w GROUP BY wt.doc_id)
    SELECT b.doc_id,
      COALESCE(p.n_words, 0) AS n_words,
      COALESCE(p.n_pieces, 0) AS n_pieces,
      COALESCE(p.n_unk, 0) AS n_unk,
      COALESCE(p.encoded, '') AS encoded
    FROM base b LEFT JOIN perdoc p ON b.doc_id = p.doc_id
    ORDER BY b.doc_id
  """.trim
  }
}

/** Q64h — UNIGRAM-LM tokenizer TRAINING (Kudo 2018; the SentencePiece
  * algorithm): the third major published subword family, completing
  * the tokenizer matrix (BPE q64*, WordPiece q64g, Unigram here +
  * q64i encode). Unigram fails differently from both: it is a
  * PROBABILISTIC segmenter — a piece inventory with unigram
  * probabilities under which encode picks the max-likelihood
  * segmentation by Viterbi DP — where BPE replays a merge trajectory
  * and WordPiece greedily longest-matches.
  *
  * This is the HARD-EM (Viterbi-EM) variant of Kudo's trainer, the
  * standard deterministic simplification: seed a large candidate
  * inventory from frequent substrings, then iterate (E) Viterbi-
  * segment every distinct word under the current piece scores and
  * (M) re-estimate each piece's count from the segmentations,
  * dropping multi-char pieces that won no occurrences (the prune
  * step; single chars are never pruned — they are the coverage
  * floor, as in the paper). Soft EM's marginalization over all
  * segmentations would put FLOATS in the trajectory's argmaxes;
  * hard EM keeps every E-step decision an integer comparison, which
  * is what lets a relational oracle replay training EXACTLY.
  *
  * DETERMINISM (the engine-exactness contract): piece scores are
  * QUANTIZED integer log-probs — q(p) = floor(1e6·ln(cnt+1)) −
  * floor(1e6·ln(T)), T = Σ(cnt+1) over the retained inventory
  * (add-one smoothing keeps ln away from 0-count chars) — so every
  * Viterbi comparison is exact BIGINT arithmetic, ties broken by a
  * total order (score desc, fewer pieces, encoded string desc).
  * The only floats live in the one-shot quantization of each
  * (piece, round) count; a cross-engine ulp difference in ln would
  * have to land within ~1e-10 of the 1e-6 quantization grid to flip
  * a score — negligible, and a flip would surface loudly as a hash
  * mismatch, not silently.
  *
  * Scale shape (the q64 rule): the corpus is read ONCE for the
  * word-frequency table; seeding and every EM round after that are
  * VOCABULARY-sized — a substring explode + count, then per round
  * one distributed Viterbi pass over distinct words (the DP is a
  * per-row fold with the piece-score map riding the plan) and one
  * map-side-combined count aggregation, with exactly one vocab-sized
  * driver collect per round (the q64/q62 driver-traffic rule). At
  * 100 TB the word table is ~10⁷ rows regardless of corpus size. */
object Q64hUnigramVocab extends GraftQuery {
  val name = "q64h_unigram_vocab"
  /** Longest candidate piece (chars). */
  val MaxPiece = 4
  /** Multi-char seed pieces kept (by substring frequency). */
  val SeedMultis = 80
  /** Hard-EM rounds. */
  val EmRounds = 3
  /** Log-prob quantization scale. */
  val Scale = 1000000L
  /** Oracle DP unroll depth — shares q64g's corpus bound (max
    * normalized word ≤ raw token length ≤ OracleSteps, spec-pinned). */
  private[graft] val OracleSteps = Q64gWordpieceEncode.OracleSteps

  private[graft] def qlog(x: Long): Long =
    math.floor(Scale.toDouble * math.log(x.toDouble)).toLong

  /** Integer piece scores for one round's retained inventory. */
  private[graft] def scoresOf(counts: Seq[(String, Long)]): Seq[(String, Long)] = {
    val t = counts.map(_._2 + 1).sum
    val qt = qlog(t)
    counts.map { case (p, c) => (p, qlog(c + 1) - qt) }
  }

  /** The Viterbi fold over one word bound as `w_`, scores as a map
    * literal: dp[j] = best (score, −pieces, enc) over pieces ending
    * at j; struct max IS the tie rule (score desc, fewer pieces,
    * enc desc). Every corpus char is in the inventory, so dp is
    * always reachable and there is no [UNK] arm. */
  private[graft] def viterbiExpr(scores: Seq[(String, Long)],
      finish: String = "element_at(acc_, -1).enc"): String = {
    val vmap = scores.sortBy(_._1)
      .map { case (p, q) => s"'$p', CAST($q AS BIGINT)" }
      .mkString("map(", ", ", ")")
    "aggregate(sequence(1, length(w_)), " +
      "array(named_struct('sc', CAST(0 AS BIGINT), 'nn', 0, 'enc', '')), " +
      "(acc_, j_) -> concat(acc_, array(" +
      s"array_max(filter(transform(sequence(1, least($MaxPiece, j_)), l_ -> " +
      s"IF(element_at($vmap, substring(w_, j_ - l_ + 1, l_)) IS NULL, NULL, " +
      "named_struct(" +
      s"'sc', element_at(acc_, j_ - l_ + 1).sc + element_at($vmap, substring(w_, j_ - l_ + 1, l_)), " +
      "'nn', element_at(acc_, j_ - l_ + 1).nn - 1, " +
      "'enc', concat(element_at(acc_, j_ - l_ + 1).enc, " +
      "IF(j_ - l_ = 0, '', ' '), substring(w_, j_ - l_ + 1, l_))))), " +
      "x_ -> x_ IS NOT NULL)))), " +
      s"acc_ -> $finish)"
  }

  /** Train: returns (final inventory with counts, per-round corpus
    * Viterbi scores Σ cnt·score(word) for the monotonicity spec, and
    * the pinned distinct-word frame for encode reuse). */
  private[graft] def learn(spark: SparkSession, dir: String)
      : (Seq[(String, Long)], Seq[Long], DataFrame) =
    learnFrom(spark, Bpe.wordFreq(spark, dir))

  /** Same trainer over an arbitrary (word, cnt) frequency frame —
    * q64m trains on the train split only (the q64f rule: drift is
    * measured against the vocabulary the INDEXED corpus taught). */
  private[graft] def learnFrom(spark: SparkSession, freq: DataFrame)
      : (Seq[(String, Long)], Seq[Long], DataFrame) = {
    import spark.implicits._
    val words = freq.localCheckpoint()
    // Seed: substring frequencies (every occurrence position), all
    // single chars + the SeedMultis most frequent multi-char pieces.
    val subs = words.select(col("cnt"), explode(expr(
        s"flatten(transform(sequence(1, length(word)), i_ -> " +
          s"transform(sequence(1, least($MaxPiece, length(word) - i_ + 1)), " +
          "l_ -> substring(word, i_, l_))))")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("c"))
      .localCheckpoint()
    val chars = subs.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val multis0 = subs.filter(length(col("piece")) > 1)
      .orderBy(col("c").desc, col("piece").asc).limit(SeedMultis)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    var inventory = (chars ++ multis0).sortBy(_._1)
    val charSet = chars.map(_._1).toSet
    val roundScores = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (_ <- 1 to EmRounds) {
      val enc = words.select(col("word"), col("cnt"),
          expr(NorthStar.let("w_", "word",
            viterbiExpr(scoresOf(inventory),
              finish = "named_struct('enc', element_at(acc_, -1).enc, " +
                "'sc', element_at(acc_, -1).sc)"))).as("v"))
        .localCheckpoint(false)
      roundScores += enc.agg(sum(col("cnt") * col("v.sc"))).head().getLong(0)
      val counts = enc
        .select(col("cnt"), explode(split(col("v.enc"), " ")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      // M + prune: chars always retained (count may be 0); multis
      // only if Viterbi used them this round.
      inventory = (charSet.toSeq.map(ch => (ch, counts.getOrElse(ch, 0L))) ++
        counts.toSeq.filter { case (p, _) => p.length > 1 && !charSet(p) })
        .sortBy(_._1)
    }
    (inventory, roundScores.toSeq, words)
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    learn(spark, dir)._1
      .map { case (p, c) => (p, c, p.length == 1) }
      .toDF("piece", "cnt", "is_char")
      .orderBy(col("cnt").desc, col("piece").asc)
  }

  /** One Viterbi DP chain over the distinct words `$src(w)` under the
    * score table `$v(piece, q)`: dp rows (w, j, sc, nn, enc), best
    * path to position j picked by the SAME total order as the Spark
    * struct max. `$pfx`-namespaced so training unrolls one chain per
    * EM round (and q64m adds a final chain over the FULL corpus's
    * covered words). */
  /** `nSteps`: DP positions to unroll. The training chains keep the
    * fixture-pinned [[OracleSteps]]; the drift GATE oracle (q64p)
    * unrolls [[Bpe.MaxMeasuredWordLen]] so it shares the Spark
    * measurement's depth contract — the DP completes exactly the
    * words of length ≤ the bound on both engines, and longer words
    * never reach dp[len(w)] on either (ADVICE r16). */
  private[graft] def duckViterbi(pfx: String, v: String,
      src: String = "dw", nSteps: Int = OracleSteps): String = {
    val steps = (1 to nSteps).map { j =>
      val prevs = (math.max(0, j - MaxPiece) until j).map { pj =>
        s"SELECT w, $pj AS j, sc, nn, enc FROM ${pfx}dp$pj"
      }.mkString(" UNION ALL ")
      s"""${pfx}cand$j AS (
        SELECT p.w, p.sc + v.q AS sc, p.nn + 1 AS nn,
          p.enc || CASE WHEN p.enc = '' THEN '' ELSE ' ' END || v.piece AS enc
        FROM ($prevs) p
        JOIN $v v ON v.piece = substr(p.w, p.j + 1, $j - p.j)
        WHERE length(p.w) >= $j),
      ${pfx}dp$j AS MATERIALIZED (
        SELECT w, sc, nn, enc FROM (
          SELECT w, sc, nn, enc, row_number() OVER (
            PARTITION BY w ORDER BY sc DESC, nn ASC, enc DESC) AS rk
          FROM ${pfx}cand$j) WHERE rk = 1)"""
    }.mkString(",\n    ")
    val all = (1 to nSteps).map(j =>
      s"SELECT w, $j AS j, enc, sc FROM ${pfx}dp$j").mkString(" UNION ALL ")
    s"""${pfx}dp0 AS MATERIALIZED (
      SELECT w, CAST(0 AS BIGINT) AS sc, 0 AS nn, '' AS enc FROM $src),
    $steps,
    ${pfx}enc AS (SELECT w, enc, sc FROM ($all) WHERE j = length(w))"""
  }

  /** Quantized scores from a count table `$c(piece, c)`. */
  private def duckScores(v: String, c: String): String =
    s"""${v}t AS (SELECT SUM(c + 1) AS t FROM $c),
    $v AS MATERIALIZED (SELECT piece,
      CAST(floor(1000000 * ln(CAST(c + 1 AS DOUBLE))) AS BIGINT)
        - (SELECT CAST(floor(1000000 * ln(CAST(t AS DOUBLE))) AS BIGINT)
           FROM ${v}t) AS q
      FROM $c)"""

  /** Counts from round r's per-word segmentations, with the retain
    * rule (chars always; multis only when used). */
  private def duckMstep(cOut: String, encT: String): String =
    s"""${cOut}u AS (
      SELECT s.piece, CAST(SUM(words.cnt) AS BIGINT) AS c
      FROM $encT e JOIN words ON words.word = e.w,
           unnest(string_split(e.enc, ' ')) s(piece)
      GROUP BY 1),
    $cOut AS MATERIALIZED (
      SELECT ch.piece, COALESCE(u.c, 0) AS c
      FROM chars0 ch LEFT JOIN ${cOut}u u ON u.piece = ch.piece
      UNION ALL
      SELECT piece, c FROM ${cOut}u WHERE length(piece) > 1)"""

  /** The full TRAINING replay: words → seed inventory → EmRounds ×
    * (scores → Viterbi → counts). Ends with count table c$EmRounds.
    * Shared with q64i's encode oracle. */
  private[graft] def duckTrainChain: String = duckTrainChainOver("TRUE")

  /** Same replay with the source documents filtered — q64m trains on
    * the train split (q64f's `duckChainOver` shape). */
  private[graft] def duckTrainChainOver(where: String): String = {
    val rounds = (1 to EmRounds).map { r =>
      duckScores(s"v${r - 1}", s"c${r - 1}") + ",\n    " +
        duckViterbi(s"r$r", s"v${r - 1}") + ",\n    " +
        duckMstep(s"c$r", s"r${r}enc")
    }.mkString(",\n    ")
    s"""words AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM
        (SELECT lower(regexp_replace(unnest(string_split_regex(text, '\\s+')), '[^a-zA-Z]', '', 'g')) AS word
         FROM documents WHERE $where)
      WHERE length(word) > 0 GROUP BY word),
    dw AS MATERIALIZED (SELECT DISTINCT word AS w FROM words),
    subs AS (
      SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
        CAST(SUM(cnt) AS BIGINT) AS c
      FROM words,
        unnest(range(1, length(word) + 1)) t(i),
        unnest(range(1, 1 + least($MaxPiece, length(word) - i + 1))) u(l)
      GROUP BY 1),
    chars0 AS MATERIALIZED (SELECT piece, c FROM subs WHERE length(piece) = 1),
    multis0 AS (SELECT piece, c FROM subs WHERE length(piece) > 1
                ORDER BY c DESC, piece ASC LIMIT $SeedMultis),
    c0 AS (SELECT * FROM chars0 UNION ALL SELECT * FROM multis0),
    $rounds"""
  }

  val oracle = Some(s"""
    WITH $duckTrainChain
    SELECT piece, c AS cnt, length(piece) = 1 AS is_char
    FROM c$EmRounds
    ORDER BY cnt DESC, piece ASC
  """.trim)
}

/** Q64i — UNIGRAM-LM ENCODE: the max-likelihood Viterbi segmentation
  * of the corpus under q64h's trained inventory, surfaced per doc
  * like q64g (word/piece/encoding counts — fertility and the encoded
  * stream are what a packing pipeline consumes downstream).
  *
  * Scale shape — encode is a JOIN, never a re-fold (the q64b rule):
  * the Viterbi DP runs once per DISTINCT word (vocabulary-sized, the
  * training E-step's own pass shape), and the corpus-scale step is
  * one tokenize pass equi-joined against that word→encoding
  * dictionary. No [UNK] arm: the inventory's single chars are seeded
  * from the same corpus the words come from, so coverage is total by
  * construction (q64g's [UNK] is a WordPiece semantics, not an
  * accident of this family).
  *
  * The oracle replays training end-to-end (q64h's chain) plus one
  * more Viterbi under the final scores, then joins back per doc —
  * the whole train→encode pipeline is hash-checked in one gate. */
object Q64iUnigramEncode extends GraftQuery {
  import Q64hUnigramVocab._
  val name = "q64i_unigram_encode"

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (inventory, _, words) = Q64hUnigramVocab.learn(spark, dir)
    // Vocabulary-sized dictionary: distinct word → (enc, n pieces).
    val dict = words.select(col("word"),
      expr(NorthStar.let("w_", "word",
        viterbiExpr(scoresOf(inventory)))).as("enc"))
    // Words that normalize to '' become NULL (kept, counted 0) so a
    // doc whose every token is non-alphabetic still surfaces with
    // zero counts — the oracle's LEFT JOIN shape.
    val norm = NormalizeWord.of(col("col"))
    val docWords = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode_outer(expr(NorthStar.toksExpr)))
      .select(col("doc_id"), col("pos"),
        when(length(norm) > 0, norm).as("word"))
    val perDoc = docWords.join(dict, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("word").isNotNull, 1L).otherwise(0L)).as("n_words"),
        sum(when(col("word").isNotNull, size(split(col("enc"), " ")))
          .otherwise(0L)).cast("long").as("n_pieces"),
        array_join(transform(array_sort(collect_list(
            when(col("word").isNotNull, struct(col("pos"), col("enc"))))),
          x => x.getField("enc")), " ").as("encoded"))
      .orderBy(col("doc_id"))
    perDoc
  }

  /** The ENCODE chain runs at the family depth contract
    * ([[Bpe.MaxMeasuredWordLen]], ADVICE r17): the Spark fold runs to
    * the full word length, so the oracle must complete every word ≤
    * the bound — the same contract the WordPiece tiers and the q64p
    * gate share (one depth rule per family, not per tier; q64k's
    * flattened store DP shares this oracle). The 10-step
    * [[Q64hUnigramVocab.OracleSteps]] stays only on the TRAINING
    * chains, whose depth is fixture-pinned (Round13cSpec). Beyond
    * the bound the tiers stay fixture-pinned: the literal fold here
    * has no depth budget (it would encode a >64-char word the
    * oracle drops), and this encode family — unlike the gates —
    * has no OOV arm to absorb one; >64-char alphabetic words are
    * outside the family contract. */
  val oracle = Some {
    val fin = s"c$EmRounds"
    s"""
    WITH ${Q64hUnigramVocab.duckTrainChain},
    ${"vfin"}t AS (SELECT SUM(c + 1) AS t FROM $fin),
    vfin AS (SELECT piece,
      CAST(floor(1000000 * ln(CAST(c + 1 AS DOUBLE))) AS BIGINT)
        - (SELECT CAST(floor(1000000 * ln(CAST(t AS DOUBLE))) AS BIGINT)
           FROM ${"vfin"}t) AS q
      FROM $fin),
    ${Q64hUnigramVocab.duckViterbi("fe", "vfin",
      nSteps = Bpe.MaxMeasuredWordLen)},
    base AS (SELECT doc_id, ${NorthStar.duckToks} AS t FROM documents),
    wt AS (SELECT doc_id, wi,
        lower(regexp_replace(t[wi], '[^a-zA-Z]', '', 'g')) AS w
      FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS wi FROM base)),
    ww AS (SELECT doc_id, wi, w FROM wt WHERE length(w) > 0),
    perdoc AS (SELECT ww.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_words,
      CAST(SUM(len(string_split(e.enc, ' '))) AS BIGINT) AS n_pieces,
      string_agg(e.enc, ' ' ORDER BY ww.wi) AS encoded
      FROM ww JOIN feenc e ON e.w = ww.w GROUP BY ww.doc_id)
    SELECT b.doc_id,
      COALESCE(p.n_words, 0) AS n_words,
      COALESCE(p.n_pieces, 0) AS n_pieces,
      COALESCE(p.encoded, '') AS encoded
    FROM base b LEFT JOIN perdoc p ON b.doc_id = p.doc_id
    ORDER BY b.doc_id
  """.trim
  }
}

/** Q64j — WordPiece encode against the PERSISTED piece-vocabulary
  * STORE: q64g's production shape (VERDICT r12 "what's missing" #4).
  * q64g carries the piece vocabulary as a constant-folded plan
  * literal — fine for a 51-piece fixture, wrong for a production
  * 30k-piece vocab (a megabyte-scale expression tree re-analyzed by
  * every query). Here the vocabulary is a STORE TABLE (the q64e
  * lifecycle: fingerprint-named, commit-marker + cross-process lock
  * via `plans/Stores`), and the greedy longest-match-first loop is
  * FLATTENED to one relational pass (round 17 — see [[encodeDictOf]]):
  *
  *   explode (word, pos, probe length 1..MaxProbe) → ONE broadcast
  *   equi-join pieces(piece, cont) → max piece length per (w, pos)
  *   → collect pos→ml map per word → replay the greedy walk as a
  *   pure `aggregate` expression.
  *
  * One probe row per (DISTINCT word, position, length) —
  * vocabulary-sized × word length, never the corpus; the
  * corpus-scale step is the per-doc dictionary join-back (the q64b
  * rule: encode is a join, never a re-fold). At 100 TB: piece store
  * broadcast (vocab ≤ MBs), one join over ~10⁸ probe rows from ~10⁷
  * distinct words, one corpus equi-join. Round13dSpec asserts the
  * vocab arrives by broadcast from the store scan — NOT re-collected
  * into a literal. Depth contract: exact for words ≤
  * [[Bpe.MaxMeasuredWordLen]], [UNK] past it — shared with every WP
  * oracle chain (ADVICE r16).
  *
  * SHARES q64g's oracle: literal tier and store tier must be
  * row-identical, and the hash gate holds both to it. */
object Q64jWordpieceEncodeStore extends GraftQuery {
  import Q64gWordpieceEncode.{InitPieces, ContPieces, MaxProbe}
  val name = "q64j_wordpiece_encode_store"
  private val prefix = "graft_wpstore"

  /** Build (or bind) the persisted piece table for this corpus
    * snapshot (the vocab is a shipped artifact, versioned with the
    * corpus like q64e's). */
  private[graft] def ensurePieces(spark: SparkSession, dir: String): String =
    graft.plans.Stores.ensure(spark, prefix, dir, Seq("pieces")) {
      case Seq(piecesT) =>
        import spark.implicits._
        (InitPieces.map((_, 0)) ++ ContPieces.map((_, 1)))
          .toDF("piece", "cont")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(piecesT)
    }.head

  /** The greedy encode from the store, flattened to ONE broadcast
    * join (see [[encodeDictOf]]). */
  private[graft] def encodeDict(spark: SparkSession, dir: String,
      piecesT: String): DataFrame =
    encodeDictOf(spark,
      Tables.documents(spark, dir)
        .select(explode(expr(NorthStar.toksExpr)).as("w")).distinct(),
      piecesT)

  /** Greedy encode of a CALLER-PROVIDED distinct-word frame (one `w`
    * column) against the piece STORE — the drift-gated store (q64o)
    * measures arriving corpora through it.
    *
    * FLATTENED since round 17 (VERDICT r16 #1): the greedy chain is
    * sequential in `pos`, but its only data dependence on the
    * dictionary is the longest match length at each position — so
    * phase 1 resolves ml(w, pos) for EVERY position in ONE broadcast
    * join over the store scan (explode positions × probe lengths ≤
    * MaxProbe, join pieces, max plen per (w, pos)), and phase 2
    * replays the greedy walk per word as a pure `aggregate`
    * expression over the collected pos→ml map — no dictionary access,
    * fully codegen. This replaces the previous depth-many sequential
    * join+checkpoint rounds (the shape that cost q64o its 2× floor
    * row): same probes in total, one stage instead of
    * max-word-length stages, and no data-derived depth probe action.
    * The store posture is unchanged — pieces arrive by BROADCAST
    * from the store scan (Round13dSpec), never as a literal.
    *
    * Depth contract (shared with every WP oracle chain): words of
    * length ≤ [[Bpe.MaxMeasuredWordLen]] encode exactly; longer
    * words are [UNK] by explicit guard on both engines. */
  private[graft] def encodeDictOf(spark: SparkSession, words: DataFrame,
      piecesT: String): DataFrame = {
    val maxLen = Bpe.MaxMeasuredWordLen
    val pieces = broadcast(spark.table(piecesT)
      .select(col("piece"), col("cont"), length(col("piece")).as("plen")))
    // Phase 1: longest store match per (word, position) — the one
    // corpus-side dictionary pass. Over-length words skip it (they
    // are [UNK] by contract; no sense exploding their positions).
    val ml = words.filter(length(col("w")) <= maxLen)
      .select(col("w"), explode(expr("sequence(1, length(w))")).as("pos"))
      .select(col("w"), col("pos"), explode(expr(
        s"sequence(1, least($MaxProbe, length(w) - pos + 1))")).as("l"))
      .join(pieces,
        expr("substring(w, pos, l)") === col("piece") &&
          (col("pos") > 1).cast("int") === col("cont"))
      .groupBy(col("w"), col("pos")).agg(max(col("plen")).as("ml"))
    val mlMaps = ml.groupBy(col("w"))
      .agg(map_from_entries(collect_list(struct(col("pos"), col("ml"))))
        .as("mlm"))
    // Phase 2: the greedy walk over the pos→ml map — same struct fold
    // as q64g's literal tier, with map lookups in place of dictionary
    // probes. try_element_at: a position with no match (or a word with
    // no matches at all — null map from the left join) is null → unk.
    val step =
      "element_at(transform(array(try_element_at(mlm, st.pos)), ml_ -> " +
        "IF(ml_ IS NULL, " +
        "named_struct('pos', st.pos, 'acc', st.acc, 'unk', true), " +
        "named_struct('pos', st.pos + ml_, " +
        "'acc', concat(st.acc, IF(st.acc = '', '', ' '), " +
        "IF(st.pos > 1, '##', ''), substring(w, st.pos, ml_)), " +
        "'unk', false))), 1)"
    val fold =
      s"IF(length(w) > $maxLen, '[UNK]', " +
        "aggregate(sequence(1, length(w)), " +
        "named_struct('pos', 1, 'acc', '', 'unk', false), " +
        s"(st, k_) -> IF(st.unk OR st.pos > length(w), st, $step), " +
        "st -> IF(st.unk OR st.pos <= length(w), '[UNK]', st.acc)))"
    words.join(mlMaps, Seq("w"), "left")
      .select(col("w"), expr(fold).as("enc"))
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val dict = encodeDict(spark, dir, ensurePieces(spark, dir))
    val docWords = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode_outer(expr(NorthStar.toksExpr)))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
    docWords.join(dict, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("w").isNotNull, 1L).otherwise(0L)).as("n_words"),
        sum(when(col("w").isNotNull, size(split(col("enc"), " ")))
          .otherwise(0L)).cast("long").as("n_pieces"),
        sum(when(col("enc") === "[UNK]", 1L).otherwise(0L)).as("n_unk"),
        array_join(transform(array_sort(collect_list(
            when(col("w").isNotNull, struct(col("pos"), col("enc"))))),
          x => x.getField("enc")), " ").as("encoded"))
      .orderBy(col("doc_id"))
  }

  val oracle: Option[String] = Q64gWordpieceEncode.oracle
}

/** Q64k — Unigram-LM encode against the PERSISTED score STORE: the
  * production tier completing the Unigram family the way q64e/q64j
  * complete BPE/WordPiece. q64i re-trains the hard-EM inventory on
  * every run (the recompute tier) and carries the scores as a plan
  * literal inside the DP fold; here the trained inventory's quantized
  * scores are a STORE TABLE (one EM suite per corpus fingerprint,
  * then only tables), and the Viterbi DP is FLATTENED to one
  * relational pass (round 17 — see [[encodeDictOf]]):
  *
  *   explode (word, end position j, length l ≤ MaxPiece) → ONE
  *   broadcast equi-join pieces(piece, q) on the substring key →
  *   collect (j·8+l)→q map per word → replay the whole DP as a pure
  *   `aggregate` expression (q64i's own fold shape, the SAME total
  *   tie order as q64h's fold and the SQL chain: score desc, fewer
  *   pieces, enc desc).
  *
  * One probe row per (distinct word, position, length) —
  * vocabulary-sized × word length, never the corpus; the
  * corpus-scale step is the per-doc dictionary join-back (the q64b
  * rule). At 100 TB: a 32k-piece score table broadcast (~MBs), one
  * join over ~10⁸ probe rows from ~10⁷ distinct words, one corpus
  * equi-join. Round13fSpec asserts the scores arrive by broadcast
  * from the store scan and pins row-parity with the recompute tier;
  * SHARES q64i's oracle (both tiers held to one hash gate). */
object Q64kUnigramEncodeStore extends GraftQuery {
  import Q64hUnigramVocab.{MaxPiece, scoresOf}
  val name = "q64k_unigram_encode_store"
  private val prefix = "graft_unistore"

  /** Build (or bind) the persisted (piece, cnt, q) score table for
    * this corpus fingerprint — the EM suite runs at most once. */
  private[graft] def ensureScores(spark: SparkSession, dir: String): String =
    graft.plans.Stores.ensure(spark, prefix, dir, Seq("pieces")) {
      case Seq(piecesT) =>
        import spark.implicits._
        val (inventory, _, _) = Q64hUnigramVocab.learn(spark, dir)
        val q = scoresOf(inventory).toMap
        inventory.map { case (p, c) => (p, c, q(p)) }
          .toDF("piece", "cnt", "q")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(piecesT)
    }.head

  /** The Viterbi encode from the score STORE, flattened to ONE
    * broadcast join (the q64j shape, round 17). */
  private[graft] def encodeDict(spark: SparkSession, dir: String,
      piecesT: String): DataFrame =
    encodeDictOf(spark,
      Bpe.wordFreq(spark, dir).select(col("word").as("w")).distinct(),
      piecesT)

  /** Viterbi encode of a CALLER-PROVIDED distinct-word frame (one `w`
    * column) against the score STORE — the drift-gated store (q64p)
    * measures arriving corpora through it.
    *
    * FLATTENED since round 17 (the q64o treatment, VERDICT r16 #1):
    * the DP is sequential in position, but its only dependence on
    * the dictionary is the candidate piece score per (end position
    * j, length l) — so phase 1 resolves q(w, j, l) for EVERY
    * candidate in ONE broadcast join over the store scan (explode
    * positions × ≤MaxPiece lengths, equi-join on the substring), and
    * phase 2 replays the whole DP per word as a pure `aggregate`
    * expression over the collected (j·8+l)→q map — q64i's own fold
    * shape (viterbiExpr) with map lookups in place of the literal
    * score map, same array_max struct tie order (score desc, fewer
    * pieces, enc desc). One stage instead of depth-many sequential
    * join+checkpoint rounds; the store posture is unchanged — scores
    * arrive by BROADCAST from the store scan (Round13fSpec).
    *
    * Depth bound [[Bpe.MaxMeasuredWordLen]]: longer words never
    * complete the DP and fall out — the gate's OOV arm on both
    * engines (the 64-step oracle chain can't reach dp[len] either);
    * the classic tiers' corpora are spec-pinned far below the
    * bound (Round13cSpec). Words that never complete (uncovered
    * chars, over-length) are dropped, exactly the sequential
    * version's `j == length(w)` filter. */
  private[graft] def encodeDictOf(spark: SparkSession, words: DataFrame,
      piecesT: String): DataFrame = {
    val maxLen = Bpe.MaxMeasuredWordLen
    // (j, l) → one map key: stride by MaxPiece + 1, which is
    // injective for ANY MaxPiece (l ranges over 1..MaxPiece < the
    // stride). A literal stride smaller than MaxPiece + 1 would make
    // keys collide across positions — map_from_entries then throws
    // DUPLICATED_MAP_KEY at runtime, or silently mis-scores under a
    // LAST_WIN dedup policy (ADVICE r17).
    val stride = MaxPiece + 1
    val pieces = broadcast(spark.table(piecesT)
      .select(col("piece"), col("q")))
    val cand = words.filter(length(col("w")) <= maxLen)
      .select(col("w"), explode(expr("sequence(1, length(w))")).as("j"))
      .select(col("w"), col("j"), explode(expr(
        s"sequence(1, least($MaxPiece, j))")).as("l"))
      .join(pieces, expr("substring(w, j - l + 1, l)") === col("piece"))
      .select(col("w"), (col("j") * stride + col("l")).as("k"), col("q"))
    val qMaps = cand.groupBy(col("w"))
      .agg(map_from_entries(collect_list(struct(col("k"), col("q"))))
        .as("qm"))
    val step =
      s"array_max(filter(transform(sequence(1, least($MaxPiece, j_)), l_ -> " +
        "IF(element_at(acc_, j_ - l_ + 1) IS NULL " +
        s"OR try_element_at(qm, j_ * $stride + l_) IS NULL, NULL, " +
        "named_struct(" +
        s"'sc', element_at(acc_, j_ - l_ + 1).sc + try_element_at(qm, j_ * $stride + l_), " +
        "'nn', element_at(acc_, j_ - l_ + 1).nn - 1, " +
        "'enc', concat(element_at(acc_, j_ - l_ + 1).enc, " +
        "IF(j_ - l_ = 0, '', ' '), substring(w, j_ - l_ + 1, l_))))), " +
        "x_ -> x_ IS NOT NULL))"
    val fold =
      "aggregate(sequence(1, length(w)), " +
        "array(named_struct('sc', CAST(0 AS BIGINT), 'nn', 0, 'enc', '')), " +
        s"(acc_, j_) -> concat(acc_, array($step)), " +
        "acc_ -> element_at(acc_, -1).enc)"
    words.join(qMaps, Seq("w"))
      .select(col("w").as("word"), expr(fold).as("enc"))
      .filter(col("enc").isNotNull)
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val dict = encodeDict(spark, dir, ensureScores(spark, dir))
    val norm = NormalizeWord.of(col("col"))
    val docWords = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode_outer(expr(NorthStar.toksExpr)))
      .select(col("doc_id"), col("pos"),
        when(length(norm) > 0, norm).as("word"))
    docWords.join(dict, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("word").isNotNull, 1L).otherwise(0L)).as("n_words"),
        sum(when(col("word").isNotNull, size(split(col("enc"), " ")))
          .otherwise(0L)).cast("long").as("n_pieces"),
        array_join(transform(array_sort(collect_list(
            when(col("word").isNotNull, struct(col("pos"), col("enc"))))),
          x => x.getField("enc")), " ").as("encoded"))
      .orderBy(col("doc_id"))
  }

  /** Recompute tier and store tier answer to ONE gate. */
  val oracle: Option[String] = Q64iUnigramEncode.oracle
}

/** Q64l — WORDPIECE DRIFT: the retrain-trigger tier for the WordPiece
  * tokenizer, completing the second column of the tokenizer drift
  * matrix (q64f covers BPE; q64m covers Unigram — VERDICT r13 next
  * #4). Same decision shape as q64f — signals measured on the
  * arriving delta (test split) against the indexed corpus (train
  * split) — with WordPiece's own failure mode in place of OOV:
  *
  *  - `unk_jump` — delta [UNK] rate minus train [UNK] rate. WordPiece
  *    always has an UNK floor (the vocabulary is a pinned artifact,
  *    not learned from this corpus), so the LEVEL is not a signal;
  *    the JUMP is — new domains push whole words outside piece
  *    coverage. Live on the fixture in both directions.
  *  - `rel_drift` — relative fertility change on non-UNK words, the
  *    q64f signal verbatim.
  *
  * Thresholds are fixture-calibrated so BOTH verdicts occur at sf0.01
  * AND sf0.1 (q64f's rule: the retrain flag must be a real decision,
  * not a constant column).
  *
  * Determinism: fertilities and UNK rates are single IEEE divisions
  * of exact BIGINTs; unk_jump is one subtraction of two such doubles;
  * comparisons are against literals — all engine-exact.
  *
  * 100 TB posture: one tokenize pass per side, the greedy encode runs
  * once per DISTINCT word (vocabulary-sized — q64g's fold), and the
  * corpus-scale step is a broadcast dictionary join + per-(lang,
  * split) aggregation. */
object Q64lWordpieceDrift extends GraftQuery {
  val name = "q64l_wordpiece_drift"
  /** Relative fertility-drift retrain trigger. */
  val DriftThreshold = 0.006
  /** [UNK]-rate jump retrain trigger. */
  val UnkJumpThreshold = 0.0005

  /** (lang, split, word) — the shared tokenize for both drift tiers. */
  private[queries] def splitWords(docs: DataFrame): DataFrame =
    InvertedIndex.words(
      docs.withColumn("split", Q40TrainTestSplit.splitCol), "lang", "split")

  def run(spark: SparkSession, dir: String): DataFrame = {
    val toks = splitWords(Tables.documents(spark, dir))
    // Vocabulary-sized: one greedy fold per distinct word, pinned so
    // the two split-side aggregations below read blocks, not re-folds.
    val dict = broadcast(Q64gWordpieceEncode.wordDict(
      toks.select(col("word")).distinct()).localCheckpoint(true))
    val stats = toks.join(dict, Seq("word"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("unk"), 1L).otherwise(0L)).as("unk_words"),
        sum(when(col("unk"), 0L).otherwise(col("ntok"))).as("invocab_ntok"),
        sum(when(col("unk"), 0L).otherwise(1L)).as("invocab_words"))
      .localCheckpoint(true)
    val tr = stats.filter(col("split") === "train").select(col("lang"),
      (col("invocab_ntok").cast("double") / col("invocab_words"))
        .as("train_fertility"),
      (col("unk_words").cast("double") / col("n_words"))
        .as("train_unk_rate"))
    val de = stats.filter(col("split") === "test").select(col("lang"),
      (col("invocab_ntok").cast("double") / col("invocab_words"))
        .as("delta_fertility"),
      (col("unk_words").cast("double") / col("n_words"))
        .as("delta_unk_rate"),
      col("n_words").as("delta_words"),
      col("unk_words").as("delta_unk_words"))
    tr.join(de, "lang")
      .withColumn("rel_drift",
        abs(col("delta_fertility") - col("train_fertility"))
          / col("train_fertility"))
      .withColumn("unk_jump",
        col("delta_unk_rate") - col("train_unk_rate"))
      .withColumn("retrain",
        col("unk_jump") > UnkJumpThreshold ||
          col("rel_drift") > DriftThreshold)
      .select(col("lang"), col("train_fertility"), col("delta_fertility"),
        col("train_unk_rate"), col("delta_unk_rate"), col("delta_words"),
        col("delta_unk_words"), col("rel_drift"), col("unk_jump"),
        col("retrain"))
      .orderBy(col("lang"))
  }

  val oracle = Some {
    s"""
    WITH d AS (SELECT lang, text, ${Q40TrainTestSplit.duckSplit} AS split
          FROM documents),
    w AS (SELECT lang, split,
        lower(regexp_replace(unnest(string_split_regex(text, '\\s+')), '[^a-zA-Z]', '', 'g')) AS word
      FROM d),
    ww AS (SELECT * FROM w WHERE length(word) > 0),
    dw AS (SELECT DISTINCT word AS w FROM ww),
    ${Q64gWordpieceEncode.duckEncChain("dw")},
    stats AS (SELECT lang, split,
        CAST(count(*) AS BIGINT) AS n_words,
        CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 1 ELSE 0 END) AS BIGINT) AS unk_words,
        CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 0 ELSE len(string_split(e.ew, ' ')) END) AS BIGINT) AS invocab_ntok,
        CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 0 ELSE 1 END) AS BIGINT) AS invocab_words
      FROM ww JOIN enc e ON e.w = ww.word GROUP BY lang, split),
    tr AS (SELECT lang,
        CAST(invocab_ntok AS DOUBLE) / invocab_words AS train_fertility,
        CAST(unk_words AS DOUBLE) / n_words AS train_unk_rate
      FROM stats WHERE split = 'train'),
    de AS (SELECT lang,
        CAST(invocab_ntok AS DOUBLE) / invocab_words AS delta_fertility,
        CAST(unk_words AS DOUBLE) / n_words AS delta_unk_rate,
        n_words AS delta_words, unk_words AS delta_unk_words
      FROM stats WHERE split = 'test')
    SELECT tr.lang, train_fertility, delta_fertility, train_unk_rate,
      delta_unk_rate, delta_words, delta_unk_words,
      abs(delta_fertility - train_fertility) / train_fertility AS rel_drift,
      delta_unk_rate - train_unk_rate AS unk_jump,
      (delta_unk_rate - train_unk_rate > $UnkJumpThreshold
        OR abs(delta_fertility - train_fertility) / train_fertility > $DriftThreshold) AS retrain
    FROM tr JOIN de ON de.lang = tr.lang
    ORDER BY tr.lang
  """.trim
  }
}

/** Q64m — UNIGRAM-LM DRIFT: the retrain-trigger tier for the Unigram
  * tokenizer, completing the drift matrix's last column (VERDICT r13
  * next #4). q64f's exact decision shape — the inventory is TRAINED
  * on the train split (hard-EM, q64h's trainer over the filtered
  * corpus), then both signals are measured on the arriving delta:
  *
  *  - `oov_rate` — delta words containing a character outside the
  *    trained char inventory (Unigram's only true OOV: single chars
  *    are the coverage floor, so a word is unsegmentable iff some
  *    char is unseen). The loud deploy signal; the fixture's splits
  *    share one alphabet, so it reads 0 here and the oracle checks
  *    exactly that (the q64f posture).
  *  - `rel_drift` — relative Viterbi-fertility change on covered
  *    words, live on the fixture.
  *
  * 100 TB posture: training is q64h's (corpus read once for word
  * frequencies; EM is vocabulary-sized); the drift measurement is one
  * Viterbi fold per DISTINCT covered word + a broadcast dictionary
  * join per side — q64l's shape with the trained scorer in place of
  * the pinned vocab. */
object Q64mUnigramDrift extends GraftQuery {
  import Q64hUnigramVocab.{EmRounds, scoresOf, viterbiExpr}
  val name = "q64m_unigram_drift"
  /** Relative fertility-drift retrain trigger (fixture-calibrated so
    * both verdicts occur — see the spec). */
  val DriftThreshold = 0.006
  /** OOV-rate retrain trigger. */
  val OovThreshold = 0.01

  def run(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(Q40TrainTestSplit.splitCol === "train")
    val (inventory, _, _) =
      Q64hUnigramVocab.learnFrom(spark, Bpe.wordFreqOf(train))
    val charsLit = inventory.collect { case (p, _) if p.length == 1 => p }
      .sorted.map(c => s"'$c'").mkString("array(", ", ", ")")
    // Covered = every char in the trained inventory AND within the
    // family depth bound: the 64-step oracle chain never completes a
    // longer word (it reads as OOV there), so the Spark measurement
    // must call it OOV too — the two-sided contract the WP family
    // keeps with its explicit [UNK] arm (ADVICE r17).
    val covered =
      s"length(word) <= ${Bpe.MaxMeasuredWordLen} AND " +
        s"size(filter(sequence(1, length(word)), i_ -> " +
        s"NOT array_contains($charsLit, substring(word, i_, 1)))) = 0"
    val toks = Q64lWordpieceDrift.splitWords(docs)
    // Viterbi once per distinct COVERED word (vocabulary-sized);
    // uncovered words fall out of the left join below as OOV.
    val dict = broadcast(toks.select(col("word")).distinct()
      .filter(expr(covered))
      .select(col("word"), size(split(expr(NorthStar.let("w_", "word",
        viterbiExpr(scoresOf(inventory)))), " ")).cast("long").as("ntok"))
      .localCheckpoint(true))
    val stats = toks.join(dict, Seq("word"), "left")
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("ntok").isNull, 1L).otherwise(0L)).as("oov_words"),
        sum(coalesce(col("ntok"), lit(0L))).as("invocab_ntok"),
        sum(when(col("ntok").isNull, 0L).otherwise(1L)).as("invocab_words"))
      .localCheckpoint(true)
    val tr = stats.filter(col("split") === "train").select(col("lang"),
      (col("invocab_ntok").cast("double") / col("invocab_words"))
        .as("train_fertility"))
    val de = stats.filter(col("split") === "test").select(col("lang"),
      (col("invocab_ntok").cast("double") / col("invocab_words"))
        .as("delta_fertility"),
      (col("oov_words").cast("double") / col("n_words")).as("oov_rate"),
      col("n_words").as("delta_words"), col("oov_words"))
    tr.join(de, "lang")
      .withColumn("rel_drift",
        abs(col("delta_fertility") - col("train_fertility"))
          / col("train_fertility"))
      .withColumn("retrain",
        col("oov_rate") > OovThreshold || col("rel_drift") > DriftThreshold)
      .select(col("lang"), col("train_fertility"), col("delta_fertility"),
        col("oov_rate"), col("delta_words"), col("oov_words"),
        col("rel_drift"), col("retrain"))
      .orderBy(col("lang"))
  }

  val oracle = Some {
    val fin = s"c$EmRounds"
    s"""
    WITH ${Q64hUnigramVocab.duckTrainChainOver(
        s"(${Q40TrainTestSplit.duckSplit}) = 'train'")},
    vfint AS (SELECT SUM(c + 1) AS t FROM $fin),
    vfin AS (SELECT piece,
      CAST(floor(1000000 * ln(CAST(c + 1 AS DOUBLE))) AS BIGINT)
        - (SELECT CAST(floor(1000000 * ln(CAST(t AS DOUBLE))) AS BIGINT)
           FROM vfint) AS q
      FROM $fin),
    d AS (SELECT lang, text, ${Q40TrainTestSplit.duckSplit} AS split
          FROM documents),
    w AS (SELECT lang, split,
        lower(regexp_replace(unnest(string_split_regex(text, '\\s+')), '[^a-zA-Z]', '', 'g')) AS word
      FROM d),
    ww AS (SELECT * FROM w WHERE length(word) > 0),
    adw AS (SELECT DISTINCT word AS w FROM ww),
    unc AS (SELECT DISTINCT t.w FROM (
        SELECT a.w, substr(a.w, CAST(u.i AS INT), 1) AS ch
        FROM adw a, unnest(range(1, length(a.w) + 1)) u(i)) t
      LEFT JOIN chars0 c ON c.piece = t.ch WHERE c.piece IS NULL),
    cov AS (SELECT w FROM adw WHERE w NOT IN (SELECT w FROM unc)),
    ${Q64hUnigramVocab.duckViterbi("fd", "vfin", "cov",
      nSteps = Bpe.MaxMeasuredWordLen)},
    stats AS (SELECT lang, split,
        CAST(count(*) AS BIGINT) AS n_words,
        CAST(SUM(CASE WHEN e.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_words,
        CAST(SUM(CASE WHEN e.w IS NULL THEN 0 ELSE len(string_split(e.enc, ' ')) END) AS BIGINT) AS invocab_ntok,
        CAST(SUM(CASE WHEN e.w IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS invocab_words
      FROM ww LEFT JOIN fdenc e ON e.w = ww.word GROUP BY lang, split),
    tr AS (SELECT lang,
        CAST(invocab_ntok AS DOUBLE) / invocab_words AS train_fertility
      FROM stats WHERE split = 'train'),
    de AS (SELECT lang,
        CAST(invocab_ntok AS DOUBLE) / invocab_words AS delta_fertility,
        CAST(oov_words AS DOUBLE) / n_words AS oov_rate,
        n_words AS delta_words, oov_words
      FROM stats WHERE split = 'test')
    SELECT tr.lang, train_fertility, delta_fertility, oov_rate,
      delta_words, oov_words,
      abs(delta_fertility - train_fertility) / train_fertility AS rel_drift,
      (CAST(oov_words AS DOUBLE) / delta_words > $OovThreshold
        OR abs(delta_fertility - train_fertility) / train_fertility > $DriftThreshold) AS retrain
    FROM tr JOIN de ON de.lang = tr.lang
    ORDER BY tr.lang
  """.trim
  }
}

/** Q64n — DRIFT-GATED vocabulary store: the OPERATIONAL closure of
  * the drift matrix (SURVEY round-14 residual #3). q64e's store
  * lifecycle rebuilds on ANY corpus fingerprint flip; q64f/l/m emit
  * retrain verdicts — but nothing consumed them. Here the verdict
  * DRIVES the store: [[decide]] measures an ARRIVING corpus against
  * the persisted vocabulary + its stored per-language training
  * fertilities (q64f's two signals verbatim — oov_rate and
  * rel_drift), and the caller retrains only when some language trips
  * a threshold; below threshold the stale vocabulary keeps serving
  * (the correct production economics: a tokenizer retrain invalidates
  * every downstream encode, so it must be RARE and signal-driven).
  *
  * Store family (Stores lifecycle): `vocab` (word, ntok) — q64e's
  * artifact; `stats` (lang, train_fertility) — the measurement
  * baseline FROZEN AT TRAINING TIME, which is what makes later drift
  * measurements comparisons against the trained state rather than
  * against a moving recomputation.
  *
  * The gate query (`run`) binds the store for the fixture corpus and
  * reports the corpus measured against its OWN stored baseline —
  * real per-language fertilities with structurally-zero drift (the
  * oracle replays training + both measurement sides and checks
  * exactly that). The gating BEHAVIOR — serve-stale below threshold,
  * retrain above — is exercised by Round14Spec over crafted arriving
  * corpora, where the fixture cannot reach the thresholds' far side. */
object Q64nBpeDriftGatedStore extends GraftQuery {
  val name = "q64n_bpe_drift_gated_store"
  private val prefix = "graft_dgvocab"
  /** Store layout version — folded into the s26 report version too. */
  private[graft] val layoutV = "2"

  /** Build (or bind) this corpus snapshot's (vocab, stats). Layout
    * v2 (round 15): stats gained `train_oov_rate` — the never-null
    * missing-baseline predicate, harmonized with q64o/q64p — and the
    * fertility freeze is null-guarded (a corpus-trained BPE vocab
    * covers every training word today, but the freeze must not rely
    * on that staying true). */
  private[graft] def ensureStore(spark: SparkSession,
      dir: String): (String, String) = {
    val names = graft.plans.Stores.ensure(
        spark, prefix, dir, Seq("vocab", "stats"),
        layoutVersion = layoutV) {
        case Seq(vocabT, statsT) =>
      import spark.implicits._
      val freq = Bpe.wordFreq(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val ntok = Q64cBpeMergesLocal.learnInMemory(freq, Q64BpeMerges.Merges)._2
      val dict = ntok.toSeq.map { case (w, n) => (w, n.toLong) }
        .toDF("word", "ntok")
      dict.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(vocabT)
      // Freeze the training-time baseline: per-lang fertility of the
      // TRAINING corpus under the vocabulary just learned from it.
      measured(spark, graft.Tables.documents(spark, dir),
          broadcast(spark.table(vocabT)))
        .select(col("lang"),
          when(col("invocab_words") === 0L, lit(null).cast("double"))
            .otherwise(col("invocab_ntok").cast("double")
              / col("invocab_words"))
            .as("train_fertility"),
          (col("oov_words").cast("double") / col("n_words"))
            .as("train_oov_rate"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(statsT)
    }
    (names(0), names(1))
  }

  /** Per-lang measurement of `docs` under a dictionary: word counts,
    * OOV counts, in-vocab token sums (q64f's delta-side shape). All
    * four counters are ADDITIVE — the streaming gate (s26)
    * accumulates them per epoch and gates the rollup. */
  private[graft] def measured(spark: SparkSession, docs: DataFrame,
      dict: DataFrame): DataFrame =
    InvertedIndex.words(docs, "lang")
      .join(dict, Seq("word"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("ntok").isNull, 1L).otherwise(0L)).as("oov_words"),
        sum(coalesce(col("ntok"), lit(0L))).as("invocab_ntok"),
        sum(when(col("ntok").isNull, 0L).otherwise(1L)).as("invocab_words"))

  /** The GATE: measure an arriving corpus against the bound store.
    * Returns the per-lang report; `retrain` is true where a language
    * trips q64f's thresholds — the caller rebuilds only then.
    * LEFT join from the measured arrivals (ADVICE r14 medium): a
    * language present in arrivals but absent at training time has no
    * stored baseline — the loudest possible drift — and must trip the
    * gate, not vanish from the report through an inner join. Its
    * baseline columns read as null and retrain is forced true. */
  private[graft] def decide(spark: SparkSession, vocabT: String,
      statsT: String, arriving: DataFrame): DataFrame =
    gateOf(spark,
      measured(spark, arriving, broadcast(spark.table(vocabT))), statsT)

  /** The gate arithmetic over a (possibly rolled-up) measurement
    * frame — [[decide]]'s tail, shared with the streaming gate (s26)
    * which feeds it epoch-summed partials. */
  private[graft] def gateOf(spark: SparkSession, m: DataFrame,
      statsT: String): DataFrame =
    m
      .join(spark.table(statsT), Seq("lang"), "left")
      .select(col("lang"), col("train_fertility").as("stored_fertility"),
        // try-divide: a fully-OOV language has zero in-vocab words and
        // no meaningful fertility (null; its oov_rate = 1 and/or the
        // null baseline trip the gate) — ANSI mode would throw.
        when(col("invocab_words") === 0L, lit(null).cast("double"))
          .otherwise(col("invocab_ntok").cast("double") / col("invocab_words"))
          .as("current_fertility"),
        (col("oov_words").cast("double") / col("n_words")).as("oov_rate"),
        col("n_words"), col("oov_words"), col("train_oov_rate"))
      .withColumn("rel_drift",
        abs(col("current_fertility") - col("stored_fertility"))
          / col("stored_fertility"))
      // Missing baseline = no stats ROW (train_oov_rate is never null
      // when one exists — the q64o/q64p rule): a null stored FERTILITY
      // alone just means the training words were all OOV, which the
      // oov arm baselines; the drift comparison is null-safe.
      .withColumn("retrain",
        col("train_oov_rate").isNull ||
          col("oov_rate") > Q64fVocabDrift.OovThreshold ||
          coalesce(col("rel_drift") > Q64fVocabDrift.DriftThreshold,
            lit(false)))
      .drop("train_oov_rate")
      .orderBy(col("lang"))

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (vocabT, statsT) = ensureStore(spark, dir)
    decide(spark, vocabT, statsT, graft.Tables.documents(spark, dir))
  }

  /** Replay: train on the corpus, measure the corpus against its own
    * frozen baseline — fertilities are real per-lang values, drift
    * and OOV structurally zero, retrain false everywhere. */
  val oracle: Option[String] = Some {
    val sK = s"s${Q64BpeMerges.Merges}"
    s"""
    WITH ${Q64BpeMerges.duckChain},
    dict AS (SELECT wid AS word, CAST(count(*) AS BIGINT) AS ntok
             FROM $sK GROUP BY wid),
    w AS (SELECT lang,
        lower(regexp_replace(unnest(string_split_regex(text, '\\s+')), '[^a-zA-Z]', '', 'g')) AS word
      FROM documents),
    ww AS (SELECT * FROM w WHERE length(word) > 0),
    m AS (SELECT lang,
        CAST(count(*) AS BIGINT) AS n_words,
        CAST(SUM(CASE WHEN dict.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_words,
        CAST(SUM(CASE WHEN dict.word IS NULL THEN 0 ELSE ntok END) AS BIGINT) AS invocab_ntok,
        CAST(SUM(CASE WHEN dict.word IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS invocab_words
      FROM ww LEFT JOIN dict ON dict.word = ww.word GROUP BY lang)
    SELECT lang,
      CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0) AS stored_fertility,
      CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0) AS current_fertility,
      CAST(oov_words AS DOUBLE) / n_words AS oov_rate,
      n_words, oov_words,
      abs(CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0)
        - CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0))
        / (CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0)) AS rel_drift,
      (CAST(oov_words AS DOUBLE) / n_words > ${Q64fVocabDrift.OovThreshold}
        OR COALESCE(abs(CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0)
             - CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0))
           / (CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0))
           > ${Q64fVocabDrift.DriftThreshold}, FALSE)) AS retrain
    FROM m
    ORDER BY lang
  """.trim
  }
}

/** Q64o — DRIFT-GATED WordPiece store (VERDICT r14 next #3): the q64n
  * lifecycle for the SECOND tokenizer family. The persisted piece
  * vocabulary (q64j's store) gains a frozen per-language measurement
  * baseline — fertility AND [UNK] rate of the training corpus under
  * the pieces — and [[decide]] measures an ARRIVING corpus against it
  * with q64l's two signals (rel_drift on non-UNK fertility; unk_jump,
  * the [UNK]-rate JUMP — WordPiece always has an UNK floor, so the
  * level is not a signal). The caller retrains only on a trip; below
  * threshold the stale pieces keep serving. A language absent from
  * the baseline is an automatic trip (the ADVICE r14 rule q64n now
  * follows — built in here from the start).
  *
  * Measurement runs the RELATIONAL greedy fold against the broadcast
  * piece store ([[Q64jWordpieceEncodeStore.encodeDictOf]]) — one
  * state row per distinct arriving word, vocabulary-sized; the
  * corpus-scale step is one tokenize + dictionary join per decide. */
object Q64oWordpieceDriftGatedStore extends GraftQuery {
  import Q64gWordpieceEncode.{InitPieces, ContPieces}
  val name = "q64o_wordpiece_drift_gated_store"
  private val prefix = "graft_dgwp"
  /** Store layout version — folded into the s26 report version too. */
  private[graft] val layoutV = "2"

  /** Build (or bind) this corpus snapshot's (pieces, stats). Layout
    * v2: the stats schema grew the never-null baseline columns the
    * missing-baseline predicate keys on — a schema change must retire
    * older incarnations like a corpus change (the Stores rule). */
  private[graft] def ensureStore(spark: SparkSession,
      dir: String): (String, String) = {
    val names = graft.plans.Stores.ensure(
        spark, prefix, dir, Seq("pieces", "stats"),
        layoutVersion = layoutV) {
        case Seq(piecesT, statsT) =>
      import spark.implicits._
      (InitPieces.map((_, 0)) ++ ContPieces.map((_, 1)))
        .toDF("piece", "cont")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(piecesT)
      // Freeze the training-time baseline under the pieces just built.
      // Fertility is null for a language whose every training word is
      // [UNK] (a legitimate frozen state — the unk_rate still
      // baselines it); train_unk_rate is NEVER null, which is what
      // decide()'s missing-baseline predicate keys on.
      measured(spark, graft.Tables.documents(spark, dir), piecesT)
        .select(col("lang"),
          when(col("invocab_words") === 0L, lit(null).cast("double"))
            .otherwise(col("invocab_ntok").cast("double")
              / col("invocab_words"))
            .as("train_fertility"),
          (col("unk_words").cast("double") / col("n_words"))
            .as("train_unk_rate"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(statsT)
    }
    (names(0), names(1))
  }

  /** Per-lang measurement of `docs` under the piece store: word/UNK
    * counts and non-UNK piece sums (q64l's stats shape). Additive —
    * s26 accumulates per epoch.
    *
    * The encode is the FLATTENED store dict
    * ([[Q64jWordpieceEncodeStore.encodeDictOf]], VERDICT r16 #1):
    * exact for every word ≤ [[Bpe.MaxMeasuredWordLen]], [UNK] beyond
    * — no data-derived depth probe, no sequential unroll, and the
    * oracle chain shares the same bound, so an arriving word of ANY
    * length reads identically on both engines (ADVICE r16). */
  private[graft] def measured(spark: SparkSession, docs: DataFrame,
      piecesT: String): DataFrame = {
    val words = InvertedIndex.words(docs, "lang")
    val dw = words.select(col("word").as("w")).distinct()
    val dict = Q64jWordpieceEncodeStore.encodeDictOf(spark, dw, piecesT)
      .select(col("w").as("word"), (col("enc") === "[UNK]").as("unk"),
        size(split(col("enc"), " ")).cast("long").as("ntok"))
    words.join(dict, Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("unk"), 1L).otherwise(0L)).as("unk_words"),
        sum(when(col("unk"), 0L).otherwise(col("ntok"))).as("invocab_ntok"),
        sum(when(col("unk"), 0L).otherwise(1L)).as("invocab_words"))
  }

  /** The GATE: measure an arriving corpus against the bound store.
    * LEFT join from the arrivals — a language with no stored baseline
    * (null columns) is the loudest drift and forces retrain. */
  private[graft] def decide(spark: SparkSession, piecesT: String,
      statsT: String, arriving: DataFrame): DataFrame =
    gateOf(spark, measured(spark, arriving, piecesT), statsT)

  /** The gate arithmetic over a (possibly rolled-up) measurement
    * frame — shared with the streaming gate (s26). */
  private[graft] def gateOf(spark: SparkSession, m: DataFrame,
      statsT: String): DataFrame =
    m
      .join(spark.table(statsT), Seq("lang"), "left")
      .select(col("lang"),
        col("train_fertility").as("stored_fertility"),
        when(col("invocab_words") === 0L, lit(null).cast("double"))
          .otherwise(col("invocab_ntok").cast("double") / col("invocab_words"))
          .as("current_fertility"),
        col("train_unk_rate").as("stored_unk_rate"),
        (col("unk_words").cast("double") / col("n_words"))
          .as("current_unk_rate"),
        col("n_words"), col("unk_words"))
      .withColumn("rel_drift",
        abs(col("current_fertility") - col("stored_fertility"))
          / col("stored_fertility"))
      .withColumn("unk_jump",
        col("current_unk_rate") - col("stored_unk_rate"))
      // Missing baseline = no stats ROW (stored_unk_rate is never null
      // when one exists) — a null stored FERTILITY alone just means
      // the training words were all [UNK], which the unk_jump arm
      // baselines; the drift comparison is null-safe (either side's
      // all-[UNK] fertility) and must not poison the verdict.
      .withColumn("retrain",
        col("stored_unk_rate").isNull ||
          col("unk_jump") > Q64lWordpieceDrift.UnkJumpThreshold ||
          coalesce(col("rel_drift") > Q64lWordpieceDrift.DriftThreshold,
            lit(false)))
      .orderBy(col("lang"))

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (piecesT, statsT) = ensureStore(spark, dir)
    decide(spark, piecesT, statsT, graft.Tables.documents(spark, dir))
  }

  /** Replay: encode the corpus under the pieces, measure it against
    * its own frozen baseline — real per-lang values, structurally
    * zero drift/jump, retrain false everywhere. */
  val oracle: Option[String] = Some {
    s"""
    WITH w AS (SELECT lang,
        lower(regexp_replace(unnest(string_split_regex(text, '\\s+')), '[^a-zA-Z]', '', 'g')) AS word
      FROM documents),
    ww AS (SELECT * FROM w WHERE length(word) > 0),
    dw AS (SELECT DISTINCT word AS w FROM ww),
    ${Q64gWordpieceEncode.duckEncChain("dw")},
    m AS (SELECT lang,
        CAST(count(*) AS BIGINT) AS n_words,
        CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 1 ELSE 0 END) AS BIGINT) AS unk_words,
        CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 0 ELSE len(string_split(e.ew, ' ')) END) AS BIGINT) AS invocab_ntok,
        CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 0 ELSE 1 END) AS BIGINT) AS invocab_words
      FROM ww JOIN enc e ON e.w = ww.word GROUP BY lang)
    SELECT lang,
      CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0) AS stored_fertility,
      CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0) AS current_fertility,
      CAST(unk_words AS DOUBLE) / n_words AS stored_unk_rate,
      CAST(unk_words AS DOUBLE) / n_words AS current_unk_rate,
      n_words, unk_words,
      abs(CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0)
        - CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0))
        / (CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0)) AS rel_drift,
      CAST(0 AS DOUBLE) AS unk_jump,
      (CAST(0 AS DOUBLE) > ${Q64lWordpieceDrift.UnkJumpThreshold}
        OR COALESCE(abs(CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0)
             - CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0))
           / (CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0))
           > ${Q64lWordpieceDrift.DriftThreshold}, FALSE)) AS retrain
    FROM m
    ORDER BY lang
  """.trim
  }
}

/** Q64q — SAMPLED drift gate (VERDICT r16 #5): q64o's decide on a
  * DETERMINISTIC 1-in-16 DOCUMENT sample — the q40 split discipline
  * (last md5(doc_id) nibble == 0; never `rand()`), so both engines
  * replay the exact same sample and the whole frame stays
  * hash-green. At 100×/1000× the full gates' decide costs 8–126 s
  * because EVERY arriving document is tokenized and encoded; the
  * sampled tier pays ~1/16 of everything — scan, tokenize, encode,
  * rollup — for a per-lang estimate whose error the entry AUDITS
  * in-query (the q30b tolerance-flag pattern): alongside the sampled
  * signals it computes the FULL measurement and emits boolean
  * within-envelope flags, all replayed exactly by the oracle. At
  * scale the audit columns drop and only the sampled arm runs
  * (q30b's documented trade) — [[decideSampled]] is that production
  * shape, and BASELINE.md's `q64q_gate_decide_sampled` decade row
  * prices it against the full decide. From the standard layout the
  * sampled decide's floor is the corpus SCAN (text decoded before
  * the doc-id filter); [[decideSampledPruned]] over the
  * sample-nibbled layout ([[graft.plans.Layout.writeSampleNibbled]])
  * turns the sample into a PARTITION filter — ~1/16 of the bytes
  * read, plan-asserted (VERDICT r17 #4), priced by the
  * `q64q_gate_decide_sampled_pruned` decade row.
  *
  * RETRAIN gating: the sampled signals compare against the STORED
  * full-corpus baselines (q64o's store — shared, one store family)
  * with thresholds WIDENED by the documented sampling envelope —
  * a drift smaller than the sampling error cannot be attributed, so
  * the sampled gate is deliberately less trigger-happy by exactly
  * that envelope; a missing baseline stays the loudest drift
  * (retrain by construction, q64o's rule). */
object Q64qSampledDriftGate extends GraftQuery {
  val name = "q64q_wordpiece_drift_gate_sampled"
  /** Keep documents whose last md5(doc_id) nibble == 0 → 1/16. */
  private[graft] val SampleNibble = 0
  private[graft] def sampleFilter: org.apache.spark.sql.Column =
    graft.plans.Layout.sampleNibble("doc_id") === SampleNibble
  private[queries] val duckSample =
    "instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 = " +
      SampleNibble
  /** Sampling envelopes (fixture-audited by the in-query flags and
    * Round17Spec): relative on fertility, absolute on unk_rate. A
    * 1/16 doc sample over the fixture's ≥100-docs-per-lang strata
    * lands well inside both; production recalibrates per corpus. */
  private[graft] val FertilityEnvelope = 0.10
  private[graft] val UnkEnvelope = 0.05

  /** PRODUCTION sampled decide: measurement over the doc sample,
    * gate vs the stored full baselines at widened thresholds. No
    * audit columns — this is the shape the decade rows price.
    *
    * SAMPLING ABSENCE is loud (round-17 review): a language present
    * in the ARRIVAL but with zero documents in the 1/16 sample has
    * no evidence at all — by the family's missing-evidence rule
    * (q64o's missing-baseline arm) it must read retrain = true, not
    * silently vanish from the verdict frame. The presence pass reads
    * ONLY the lang column (a column-pruned scan — none of the text
    * IO the sample exists to avoid). */
  private[graft] def decideSampled(spark: SparkSession, piecesT: String,
      statsT: String, arriving: DataFrame): DataFrame =
    decideSampledBy(spark, piecesT, statsT, arriving, sampleFilter)

  /** The production decide over a SAMPLE-NIBBLED corpus layout
    * ([[graft.plans.Layout.writeSampleNibbled]] — VERDICT r17 #4):
    * the sampled arm filters the `_nib` PARTITION column, so the
    * scan prunes 15/16 of the directories and reads ~1/16 of the
    * bytes — the plan-asserted real thing the materialized-sample
    * stand-in only priced. The presence pass still sees every
    * partition but reads ONLY the lang column (column-pruned — none
    * of the text IO the sample exists to avoid). */
  private[graft] def decideSampledPruned(spark: SparkSession,
      piecesT: String, statsT: String, nibbled: DataFrame): DataFrame =
    decideSampledBy(spark, piecesT, statsT, nibbled,
      col("_nib") === SampleNibble)

  private def decideSampledBy(spark: SparkSession, piecesT: String,
      statsT: String, arriving: DataFrame,
      sampled: org.apache.spark.sql.Column): DataFrame = {
    val langs = arriving.select(col("lang")).distinct()
    val gated = gateSampled(spark,
      Q64oWordpieceDriftGatedStore.measured(
        spark, arriving.filter(sampled), piecesT), statsT)
    langs.join(gated, Seq("lang"), "left")
      .withColumn("retrain", coalesce(col("retrain"), lit(true)))
      .orderBy(col("lang"))
  }

  private def gateSampled(spark: SparkSession, m: DataFrame,
      statsT: String): DataFrame =
    m.join(spark.table(statsT), Seq("lang"), "left")
      .select(col("lang"),
        col("train_fertility").as("stored_fertility"),
        when(col("invocab_words") === 0L, lit(null).cast("double"))
          .otherwise(col("invocab_ntok").cast("double")
            / col("invocab_words"))
          .as("sampled_fertility"),
        col("train_unk_rate").as("stored_unk_rate"),
        (col("unk_words").cast("double") / col("n_words"))
          .as("sampled_unk_rate"),
        col("n_words").as("sampled_n_words"),
        col("unk_words").as("sampled_unk_words"))
      .withColumn("rel_drift",
        abs(col("sampled_fertility") - col("stored_fertility"))
          / col("stored_fertility"))
      .withColumn("unk_jump",
        col("sampled_unk_rate") - col("stored_unk_rate"))
      .withColumn("retrain",
        col("stored_unk_rate").isNull ||
          col("unk_jump") >
            Q64lWordpieceDrift.UnkJumpThreshold + UnkEnvelope ||
          coalesce(col("rel_drift") >
            Q64lWordpieceDrift.DriftThreshold + FertilityEnvelope,
            lit(false)))

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (piecesT, statsT) = Q64oWordpieceDriftGatedStore
      .ensureStore(spark, dir)
    val docs = graft.Tables.documents(spark, dir)
    val sampled = decideSampled(spark, piecesT, statsT, docs)
    // AUDIT tier (drops at scale): the full measurement + envelope
    // flags, hash-replayed by the oracle — the envelope is a gated
    // contract, not an argued one.
    val full = Q64oWordpieceDriftGatedStore.measured(spark, docs, piecesT)
      .select(col("lang"),
        when(col("invocab_words") === 0L, lit(null).cast("double"))
          .otherwise(col("invocab_ntok").cast("double")
            / col("invocab_words"))
          .as("full_fertility"),
        (col("unk_words").cast("double") / col("n_words"))
          .as("full_unk_rate"))
    full.join(sampled, Seq("lang"), "left")
      .select(col("lang"),
        col("sampled_fertility"), col("sampled_unk_rate"),
        col("sampled_n_words"), col("sampled_unk_words"),
        col("full_fertility"), col("full_unk_rate"),
        coalesce(abs(col("sampled_fertility") - col("full_fertility"))
            / col("full_fertility") <= FertilityEnvelope,
          col("sampled_fertility").isNull && col("full_fertility").isNull)
          .as("fertility_within_env"),
        coalesce(abs(col("sampled_unk_rate") - col("full_unk_rate"))
            <= UnkEnvelope, lit(false)).as("unk_within_env"),
        col("rel_drift"), col("unk_jump"), col("retrain"))
      .orderBy(col("lang"))
  }

  /** Replay: both measurement arms share one encode chain (`enc`
    * covers every distinct word; the sampled arm just filters the
    * occurrence rows by the doc-id nibble before joining it). The
    * stored baselines equal the full measurement of the same corpus
    * (the q64o oracle's structure), so drift/jump here are the REAL
    * sampling deviations, gate-checked at the widened thresholds. */
  val oracle: Option[String] = Some {
    s"""
    WITH w AS (SELECT doc_id, lang,
        lower(regexp_replace(unnest(string_split_regex(text, '\\s+')), '[^a-zA-Z]', '', 'g')) AS word
      FROM documents),
    ww AS (SELECT * FROM w WHERE length(word) > 0),
    dw AS (SELECT DISTINCT word AS w FROM ww),
    ${Q64gWordpieceEncode.duckEncChain("dw")},
    fm AS (SELECT lang,
        CAST(count(*) AS BIGINT) AS n_words,
        CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 1 ELSE 0 END) AS BIGINT) AS unk_words,
        CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 0 ELSE len(string_split(e.ew, ' ')) END) AS BIGINT) AS invocab_ntok,
        CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 0 ELSE 1 END) AS BIGINT) AS invocab_words
      FROM ww JOIN enc e ON e.w = ww.word GROUP BY lang),
    sm AS (SELECT lang,
        CAST(count(*) AS BIGINT) AS n_words,
        CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 1 ELSE 0 END) AS BIGINT) AS unk_words,
        CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 0 ELSE len(string_split(e.ew, ' ')) END) AS BIGINT) AS invocab_ntok,
        CAST(SUM(CASE WHEN e.ew = '[UNK]' THEN 0 ELSE 1 END) AS BIGINT) AS invocab_words
      FROM ww JOIN enc e ON e.w = ww.word WHERE $duckSample GROUP BY lang),
    j AS (SELECT f.lang,
        CASE WHEN s.invocab_words = 0 THEN NULL
             ELSE CAST(s.invocab_ntok AS DOUBLE) / s.invocab_words END AS sampled_fertility,
        CAST(s.unk_words AS DOUBLE) / s.n_words AS sampled_unk_rate,
        s.n_words AS sampled_n_words,
        s.unk_words AS sampled_unk_words,
        CASE WHEN f.invocab_words = 0 THEN NULL
             ELSE CAST(f.invocab_ntok AS DOUBLE) / f.invocab_words END AS full_fertility,
        CAST(f.unk_words AS DOUBLE) / f.n_words AS full_unk_rate
      FROM fm f LEFT JOIN sm s ON f.lang = s.lang)
    SELECT lang, sampled_fertility, sampled_unk_rate,
      sampled_n_words, sampled_unk_words, full_fertility, full_unk_rate,
      COALESCE(abs(sampled_fertility - full_fertility) / full_fertility
          <= $FertilityEnvelope,
        sampled_fertility IS NULL AND full_fertility IS NULL)
        AS fertility_within_env,
      COALESCE(abs(sampled_unk_rate - full_unk_rate) <= $UnkEnvelope,
        FALSE) AS unk_within_env,
      abs(sampled_fertility - full_fertility) / full_fertility AS rel_drift,
      sampled_unk_rate - full_unk_rate AS unk_jump,
      (sampled_n_words IS NULL -- no sampled evidence: loudest drift
        OR full_unk_rate IS NULL
        OR sampled_unk_rate - full_unk_rate >
             ${Q64lWordpieceDrift.UnkJumpThreshold} + $UnkEnvelope
        OR COALESCE(abs(sampled_fertility - full_fertility) / full_fertility >
             ${Q64lWordpieceDrift.DriftThreshold} + $FertilityEnvelope, FALSE))
        AS retrain
    FROM j ORDER BY lang
  """.trim
  }
}

/** Q64p — DRIFT-GATED Unigram store (VERDICT r14 next #3): the q64n
  * lifecycle for the THIRD tokenizer family. The persisted (piece,
  * cnt, q) score store (q64k's EM artifact) gains a frozen per-lang
  * fertility baseline; [[decide]] measures an arriving corpus with
  * q64m's two signals — oov_rate (words with a character outside the
  * trained inventory: Unigram's only true OOV, since single chars are
  * the coverage floor) and rel_drift on covered-word Viterbi
  * fertility. New-language arrivals trip automatically (left join +
  * null baseline).
  *
  * Measurement runs the RELATIONAL Viterbi DP against the broadcast
  * score store ([[Q64kUnigramEncodeStore.encodeDictOf]]) over the
  * arriving corpus's distinct COVERED words; the char inventory for
  * the coverage test is the store's length-1 pieces (an O(alphabet)
  * read — the store IS the model). */
object Q64pUnigramDriftGatedStore extends GraftQuery {
  val name = "q64p_unigram_drift_gated_store"
  private val prefix = "graft_dguni"
  /** Store layout version — folded into the s26 report version too. */
  private[graft] val layoutV = "2"

  /** Build (or bind) this corpus snapshot's (pieces, stats). Layout
    * v2: stats gained `train_oov_rate` (the never-null
    * missing-baseline predicate) — retire v1 incarnations through
    * the stale-store sweep, never bind them. */
  private[graft] def ensureStore(spark: SparkSession,
      dir: String): (String, String) = {
    val names = graft.plans.Stores.ensure(
        spark, prefix, dir, Seq("pieces", "stats"),
        layoutVersion = layoutV) {
        case Seq(piecesT, statsT) =>
      // The (piece, cnt, q) artifact is BYTE-IDENTICAL to the encode
      // store's (q64k ensures it for the same corpus fingerprint):
      // reuse the committed EM suite instead of re-training — one
      // hard-EM pass per snapshot across both families, not two.
      val src = Q64kUnigramEncodeStore.ensureScores(spark, dir)
      spark.table(src)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(piecesT)
      // train_fertility is guarded (null iff every training word of a
      // language is uncovered — cannot happen for the training corpus
      // itself, whose chars seed the inventory, but the guard keeps
      // the freeze total); train_oov_rate is NEVER null and is
      // decide()'s missing-baseline predicate.
      measured(spark, graft.Tables.documents(spark, dir), piecesT)
        .select(col("lang"),
          when(col("invocab_words") === 0L, lit(null).cast("double"))
            .otherwise(col("invocab_ntok").cast("double")
              / col("invocab_words"))
            .as("train_fertility"),
          (col("oov_words").cast("double") / col("n_words"))
            .as("train_oov_rate"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(statsT)
    }
    (names(0), names(1))
  }

  /** Per-lang measurement of `docs` under the score store: OOV =
    * uncovered chars; fertility from the DP over covered words.
    * Additive — s26 accumulates per epoch. */
  private[graft] def measured(spark: SparkSession, docs: DataFrame,
      piecesT: String): DataFrame = {
    val chars = spark.table(piecesT)
      .filter(length(col("piece")) === 1)
      .select(col("piece")).collect().map(_.getString(0)).sorted
    // The inventory's chars come from [a-zA-Z]-normalized words, so
    // the literal splice below cannot meet a quote/backslash — made
    // LOUD rather than assumed (the splice would mis-parse otherwise).
    require(chars.forall(c => c.length == 1 && c.head.isLetter),
      s"non-letter piece in the char inventory: ${chars.mkString(",")}")
    val charsLit = chars.map(c => s"'$c'").mkString("array(", ", ", ")")
    val covered = s"size(filter(sequence(1, length(w)), i_ -> " +
      s"NOT array_contains($charsLit, substring(w, i_, 1)))) = 0"
    val words = InvertedIndex.words(docs, "lang")
    // The FLATTENED store DP ([[Q64kUnigramEncodeStore.encodeDictOf]],
    // round 17): complete for every covered word ≤
    // [[Bpe.MaxMeasuredWordLen]], over-length words never reach
    // dp[len] and read as OOV — the same bound the 64-step oracle
    // chain enforces, so both engines share one depth contract
    // (ADVICE r16). No depth probe, no sequential unroll.
    val dw = words.select(col("word").as("w")).distinct()
      .filter(expr(covered))
    val dict = Q64kUnigramEncodeStore.encodeDictOf(spark, dw, piecesT)
      .select(col("word"),
        size(split(col("enc"), " ")).cast("long").as("ntok"))
    words.join(dict, Seq("word"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("ntok").isNull, 1L).otherwise(0L)).as("oov_words"),
        sum(coalesce(col("ntok"), lit(0L))).as("invocab_ntok"),
        sum(when(col("ntok").isNull, 0L).otherwise(1L)).as("invocab_words"))
  }

  /** The GATE: q64m's thresholds over the store-measured arrivals;
    * a missing stored baseline (new language) forces retrain. */
  private[graft] def decide(spark: SparkSession, piecesT: String,
      statsT: String, arriving: DataFrame): DataFrame =
    gateOf(spark, measured(spark, arriving, piecesT), statsT)

  /** The gate arithmetic over a (possibly rolled-up) measurement
    * frame — shared with the streaming gate (s26). */
  private[graft] def gateOf(spark: SparkSession, m: DataFrame,
      statsT: String): DataFrame =
    m
      .join(spark.table(statsT), Seq("lang"), "left")
      .select(col("lang"),
        col("train_fertility").as("stored_fertility"),
        when(col("invocab_words") === 0L, lit(null).cast("double"))
          .otherwise(col("invocab_ntok").cast("double") / col("invocab_words"))
          .as("current_fertility"),
        (col("oov_words").cast("double") / col("n_words")).as("oov_rate"),
        col("n_words"), col("oov_words"), col("train_oov_rate"))
      .withColumn("rel_drift",
        abs(col("current_fertility") - col("stored_fertility"))
          / col("stored_fertility"))
      // Missing baseline = no stats ROW (train_oov_rate never null
      // when one exists); the drift arm is null-safe like q64o's.
      .withColumn("retrain",
        col("train_oov_rate").isNull ||
          col("oov_rate") > Q64mUnigramDrift.OovThreshold ||
          coalesce(col("rel_drift") > Q64mUnigramDrift.DriftThreshold,
            lit(false)))
      .drop("train_oov_rate")
      .orderBy(col("lang"))

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (piecesT, statsT) = ensureStore(spark, dir)
    decide(spark, piecesT, statsT, graft.Tables.documents(spark, dir))
  }

  /** Replay: train on the corpus (q64h's chain), Viterbi-encode its
    * distinct words under the final scores, measure per lang against
    * the same frozen baseline — zero drift, zero OOV, retrain false. */
  val oracle: Option[String] = Some {
    val fin = s"c${Q64hUnigramVocab.EmRounds}"
    s"""
    WITH ${Q64hUnigramVocab.duckTrainChain},
    vfint AS (SELECT SUM(c + 1) AS t FROM $fin),
    vfin AS (SELECT piece,
      CAST(floor(1000000 * ln(CAST(c + 1 AS DOUBLE))) AS BIGINT)
        - (SELECT CAST(floor(1000000 * ln(CAST(t AS DOUBLE))) AS BIGINT)
           FROM vfint) AS q
      FROM $fin),
    ${Q64hUnigramVocab.duckViterbi("fe", "vfin",
      nSteps = Bpe.MaxMeasuredWordLen)},
    lw AS (SELECT lang,
        lower(regexp_replace(unnest(string_split_regex(text, '\\s+')), '[^a-zA-Z]', '', 'g')) AS word
      FROM documents),
    lww AS (SELECT * FROM lw WHERE length(word) > 0),
    m AS (SELECT lang,
        CAST(count(*) AS BIGINT) AS n_words,
        CAST(SUM(CASE WHEN e.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_words,
        CAST(SUM(CASE WHEN e.w IS NULL THEN 0 ELSE len(string_split(e.enc, ' ')) END) AS BIGINT) AS invocab_ntok,
        CAST(SUM(CASE WHEN e.w IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS invocab_words
      FROM lww LEFT JOIN feenc e ON e.w = lww.word GROUP BY lang)
    SELECT lang,
      CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0) AS stored_fertility,
      CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0) AS current_fertility,
      CAST(oov_words AS DOUBLE) / n_words AS oov_rate,
      n_words, oov_words,
      abs(CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0)
        - CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0))
        / (CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0)) AS rel_drift,
      (CAST(oov_words AS DOUBLE) / n_words > ${Q64mUnigramDrift.OovThreshold}
        OR COALESCE(abs(CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0)
             - CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0))
           / (CAST(invocab_ntok AS DOUBLE) / NULLIF(invocab_words, 0))
           > ${Q64mUnigramDrift.DriftThreshold}, FALSE)) AS retrain
    FROM m
    ORDER BY lang
  """.trim
  }
}

/** Q78 — the TOKENIZER DRIFT CONSOLE: one operational report joining
  * all three families' retrain signals per corpus snapshot — the
  * table an operator actually pages on (round-14 residual #3's
  * console half; q64n consumes a verdict, this SURFACES them). Each
  * family contributes its own semantics unchanged — BPE (q64f:
  * oov_rate vs the trained vocab), WordPiece (q64l: the [UNK]-rate
  * JUMP), Unigram (q64m: char-coverage oov_rate) — aligned to one
  * schema (family, lang, rel_drift, aux_signal, aux_kind, retrain).
  * Pure composition: the three verified tiers' frames are unioned,
  * so the console can disagree with its parts only if the stitching
  * is wrong — which is exactly what the composed oracle (the three
  * oracles' UNION ALL) gates. */
object Q78DriftConsole extends GraftQuery {
  val name = "q78_drift_console"
  private val prefix = "graft_driftrpt"

  /** Build (or bind) the PERSISTED console report for this corpus
    * snapshot (VERDICT r14 next #8): the drift report is a pure
    * function of the corpus (both measurement sides come from the
    * same snapshot), so it versions with the fingerprint like any
    * other derived store. The console serve is then ONE tiny table
    * read; the three-family recompute (the sum of the q64f/l/m arms —
    * 5.7 s at sf0.1) is paid once per snapshot at build. */
  /** The report bakes in the three families' thresholds and gate
    * logic, so those values are FOLDED INTO the layout version (ADVICE
    * r15): a threshold change must retire the persisted report exactly
    * like a corpus change — otherwise an unchanged corpus would keep
    * serving verdicts computed under the OLD thresholds. */
  private[graft] def reportLayoutVersion: String = {
    val thresholds = Seq(
      Q64fVocabDrift.OovThreshold, Q64fVocabDrift.DriftThreshold,
      Q64lWordpieceDrift.UnkJumpThreshold, Q64lWordpieceDrift.DriftThreshold,
      Q64mUnigramDrift.OovThreshold, Q64mUnigramDrift.DriftThreshold)
      .mkString("|")
    // md5-folded: threshold literals carry '.' which is illegal in the
    // table names the version is spliced into.
    "1" + java.security.MessageDigest.getInstance("MD5")
      .digest(thresholds.getBytes("UTF-8"))
      .take(3).map("%02x".format(_)).mkString
  }

  private[graft] def ensureStore(spark: SparkSession, dir: String): String =
    graft.plans.Stores.ensure(spark, prefix, dir, Seq("report"),
        layoutVersion = reportLayoutVersion) {
      case Seq(reportT) =>
        compute(spark, dir)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(reportT)
    }.head

  def run(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensureStore(spark, dir))
      .orderBy(col("family"), col("lang"))

  /** The stitched three-family report — the store's build plan. */
  private def compute(spark: SparkSession, dir: String): DataFrame = {
    val bpe = Q64fVocabDrift.run(spark, dir)
      .select(lit("bpe").as("family"), col("lang"), col("rel_drift"),
        col("oov_rate").as("aux_signal"), lit("oov_rate").as("aux_kind"),
        col("retrain"))
    val wp = Q64lWordpieceDrift.run(spark, dir)
      .select(lit("wordpiece").as("family"), col("lang"), col("rel_drift"),
        col("unk_jump").as("aux_signal"), lit("unk_jump").as("aux_kind"),
        col("retrain"))
    val uni = Q64mUnigramDrift.run(spark, dir)
      .select(lit("unigram").as("family"), col("lang"), col("rel_drift"),
        col("oov_rate").as("aux_signal"), lit("oov_rate").as("aux_kind"),
        col("retrain"))
    bpe.unionByName(wp).unionByName(uni)
      .orderBy(col("family"), col("lang"))
  }

  /** The three family oracles, stitched: any drift in the console's
    * assembly (not just its parts) breaks this gate. */
  val oracle: Option[String] = Some {
    def arm(fam: String, aux: String, kind: String, inner: String) =
      s"""SELECT '$fam' AS family, lang, rel_drift,
        $aux AS aux_signal, '$kind' AS aux_kind, retrain
      FROM (${inner.trim}) ${fam}_t"""
    s"""
    ${arm("bpe", "oov_rate", "oov_rate", Q64fVocabDrift.oracle.get)}
    UNION ALL
    ${arm("wordpiece", "unk_jump", "unk_jump", Q64lWordpieceDrift.oracle.get)}
    UNION ALL
    ${arm("unigram", "oov_rate", "oov_rate", Q64mUnigramDrift.oracle.get)}
    ORDER BY family, lang
  """.trim
  }
}
