package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Q70 — SEMANTIC deduplication (the SemDedup shape: cluster the
  * embedding space, then prune near-duplicate pairs WITHIN clusters
  * only — "Abbas et al. 2023, SemDedup" is the published recipe this
  * re-expresses; the reference engine has no embedding surface at
  * all, so this is part of the training-data pack, not a port).
  *
  * Where q18e answers "which PAIRS are near-dups" (sign-bucket LSH,
  * pair output), q70 answers the curation question a pipeline
  * actually asks: "which ROWS do I keep" — a per-document verdict
  * frame. Candidate generation is clustering instead of LSH: every
  * vector is assigned to its nearest centroid by cosine, and only
  * same-cluster pairs are compared, so the pair space is
  * Σ|cluster|²/2 instead of n²/2.
  *
  * Clustering tier: the centroids here are the K lowest-vec_id
  * embeddings — a deterministic seed assignment (Lloyd iteration 0
  * with first-K init) chosen because centroid QUALITY only affects
  * candidate RECALL, never verdict soundness (every surfaced drop is
  * verified by an exact cosine ≥ τ), and a deterministic assignment
  * is what lets DuckDB replay the whole operator hash-exact. The
  * production path swaps in trained centroids (q19d's KMeans store
  * builds them today) without touching the prune semantics — K is
  * the operating knob, sized so corpus/K stays a bounded cluster.
  *
  * Verdict semantics (deterministic, order-free): drop vector j iff
  * SOME same-cluster vector i < j has cos(i, j) ≥ τ; `dom_id` is the
  * smallest such i. The min-id of every near-dup group always
  * survives; a chain a~b, b~c (a≁c) drops BOTH b and c — documented
  * as slightly more aggressive than greedy-sequential SemDedup
  * (which would re-admit c), in exchange for a semantics a single
  * relational pass expresses identically in both engines.
  *
  * Cross-engine determinism: the per-pair cosine is the q18e recipe —
  * flat codegen'd 64-term dot in identical fold order, one IEEE
  * division by the product of sqrt'd HOF-fold norms ⇒ bit-equal; the
  * argmax assignment compares those bit-equal doubles with an
  * explicit min-cid tie-break.
  *
  * 100 TB posture: centroids are K rows — broadcast; assignment is a
  * map-only pass (one codegen'd cos per centroid, partial-agg argmax,
  * no shuffle of the embedding table beyond the final per-cluster
  * hash partition); the prune self-join shuffles on the cluster key
  * once, and within-cluster pairs stay bounded because K scales with
  * the corpus. No global sort anywhere but the driver-facing ORDER BY. */
object Q70SemanticDedup extends GraftQuery {
  import NorthStar.{embNorm2Expr, flatDotExpr}
  val name = "q70_semantic_dedup"
  /** Seed-centroid count (fixture-sized; corpus/K ≈ bounded cluster). */
  val K = 8
  /** Within-cluster near-dup cosine threshold. */
  val Tau = 0.3

  /** (vec_id, embedding, n2) — norms attached once per vector. */
  private[queries] def withN2(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"), expr(embNorm2Expr).as("n2"))

  /** Deterministic seed centroids: the K lowest vec_ids of the
    * indexed frame (Lloyd iteration 0 with first-K init). */
  private[queries] def centroidsOf(n2: DataFrame, k: Int): DataFrame =
    n2.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("n2").as("cn2"))

  /** Nearest-centroid assignment by cosine: broadcast the K-row
    * centroid table, codegen'd flat dot per (vector, centroid), and
    * max(struct(cos, -cid)) = highest cosine with min-cid tie-break —
    * a partial-aggregating argmax (map-side combine), not a window
    * sort. Shared by q70, the q70b store build and the q70b/s16
    * delta side, so assignment semantics cannot drift. */
  private[queries] def assignClusters(n2: DataFrame,
      cent: DataFrame): DataFrame =
    n2.crossJoin(broadcast(cent))
      .select(col("vec_id"),
        (expr(flatDotExpr("embedding", "ce")) /
          (sqrt(col("n2")) * sqrt(col("cn2")))).as("cos"),
        col("cid"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("cid")).as("ncid"))).as("m"))
      .select(col("vec_id"), (-col("m.ncid")).as("cluster"))

  /** The operator over an arbitrary (vec_id, embedding) frame —
    * specs feed crafted fixtures through this. */
  private[graft] def semanticDedup(e: DataFrame, k: Int = K,
      tau: Double = Tau): DataFrame = {
    val n2 = withN2(e)
    dedupWithCentroids(n2, centroidsOf(n2, k), tau)
  }

  /** Assignment + within-cluster prune against an ARBITRARY centroid
    * frame (cid, ce, cn2) — q70 passes seed centroids, q70c passes
    * trained KMeans centers; the prune semantics are this one
    * function either way. */
  private[graft] def dedupWithCentroids(n2: DataFrame, cent: DataFrame,
      tau: Double): DataFrame = {
    // Checkpointed: the assignment feeds three plan branches (both
    // pair sides + the final verdict attach), each of which would
    // otherwise re-run the crossJoin+argmax pass; the frame is two
    // scalars per vector. At deploy scale this is the persisted
    // assignment table q70b builds.
    val assign = assignClusters(n2, cent).localCheckpoint()
    val withVec = assign.join(n2, "vec_id")
    val a = withVec.select(col("cluster"), col("vec_id").as("va"),
      col("embedding").as("ea"), col("n2").as("n2a"))
    val b = withVec.select(col("cluster"), col("vec_id").as("vb"),
      col("embedding").as("eb"), col("n2").as("n2b"))
    val doms = a.join(b, Seq("cluster"))
      .filter(col("va") < col("vb"))
      .select(col("vb"),
        col("va"),
        (expr(flatDotExpr("ea", "eb")) /
          (sqrt(col("n2a")) * sqrt(col("n2b")))).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("vb")).agg(min(col("va")).as("dom_id"))
    // UNORDERED: the driver-facing queries add the total order; the
    // composed consumers (q71's doc_id join, a benchmark's noop sink)
    // would only throw a global range-exchange away.
    assign.join(doms, assign("vec_id") === doms("vb"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("dom_id").isNull, lit("keep")).otherwise(lit("drop"))
          .as("verdict"),
        col("dom_id"))
  }

  def run(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(Tables.embeddings(spark, dir)).orderBy(col("vec_id"))

  /** The assignment+prune CTE chain (through `assign` and `doms`) —
    * shared by this oracle and q71's composed replay. */
  private[graft] val duckChain: String = duckChainWith(
    s"""cent AS (SELECT vec_id AS cid, embedding AS ce, n2 AS cn2
             FROM n2 ORDER BY vec_id LIMIT $K)""")

  /** The same chain over an ARBITRARY `cent(cid, ce, cn2)` CTE — the
    * trained tier's snapshot oracle (q70c) plugs its pinned centroid
    * table in; the assignment/prune replay is shared verbatim. */
  private[graft] def duckChainWith(centCte: String): String =
    s"""n2 AS (SELECT vec_id, embedding,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
          (acc, p) -> acc + p) AS n2 FROM embeddings),
    $centCte,
    scored AS (SELECT v.vec_id, c.cid,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(1, len(v.embedding)+1),
            i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE))),
          (acc, p) -> acc + p) / (sqrt(v.n2) * sqrt(c.cn2)) AS cos
      FROM n2 v, cent c),
    assign AS (SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(1, len(ea.embedding)+1),
            i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))),
          (acc, p) -> acc + p) / (sqrt(ea.n2) * sqrt(eb.n2)) AS cos
      FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN n2 ea ON ea.vec_id = a.vec_id
      JOIN n2 eb ON eb.vec_id = b.vec_id),
    doms AS (SELECT vb, min(va) AS dom_id FROM pairs
             WHERE cos >= $Tau GROUP BY vb)"""

  val oracle = Some(s"""
    WITH $duckChain
    SELECT a.vec_id, a.cluster,
      CASE WHEN d.dom_id IS NULL THEN 'keep' ELSE 'drop' END AS verdict,
      d.dom_id
    FROM assign a LEFT JOIN doms d ON d.vb = a.vec_id
    ORDER BY a.vec_id
  """.trim)
}

/** Q70b — SEMANTIC DELTA DEDUP against a PERSISTED cluster store: the
  * q57b/q25f store lifecycle applied to the embedding family, closing
  * the dedup matrix's store column (text q57b, image q25f, semantic
  * here). The indexed corpus (q40's train split) is assigned ONCE per
  * corpus fingerprint — seed centroids from the train split's K
  * lowest vec_ids, every train vector's (cluster, embedding, norm)
  * row written bucketed by cluster — and each arriving delta (the
  * test split standing in for "the incoming batch") assigns only
  * ITSELF against the broadcast stored centroids and joins the store
  * buckets on the cluster key: per-ingest cost O(delta) + a join
  * whose candidate space is Σ|cluster| × |delta-cluster|, never
  * all-pairs.
  *
  * Verdict semantics (q70's rule, directed at the store): a delta
  * vector is `dup` iff SOME stored vector in its cluster has
  * cos ≥ τ; `dom_id` is the smallest such base id; otherwise `new`.
  * Assignment, cosine and tie-break are the SAME factored functions
  * q70 uses ([[Q70SemanticDedup.assignClusters]], the codegen'd
  * flat-dot) — the batch-global, store-batch and store-stream tiers
  * cannot drift.
  *
  * 100 TB posture: the store holds one (cluster, 64-float, norm) row
  * per indexed vector — written once, bucketed by the join key, no
  * re-embedding or re-assignment of the corpus ever again; the delta
  * pays one broadcast argmax + one bucketed join; K scales with the
  * corpus to bound cluster size (the q70 knob). */
object Q70bSemanticDedupStore extends GraftQuery {
  import Q70SemanticDedup.{assignClusters, centroidsOf, withN2, K, Tau}
  import NorthStar.flatDotExpr
  val name = "q70b_semantic_dedup_store"
  private val prefix = "graft_semstore"

  /** Build (or bind/serve) the fingerprinted centroid + assignment
    * tables for this corpus snapshot; returns (centroidsT, assignT). */
  private[graft] def ensureStore(spark: SparkSession,
      dir: String): (String, String) = {
    val names = graft.plans.Stores.ensure(
        spark, prefix, dir, Seq("cent", "assign"),
        buckets = Map("assign" -> ("cluster", 16)),
        fpTables = Seq("embeddings.parquet")) {
      case Seq(centT, assignT) =>
        val train = withN2(Tables.embeddings(spark, dir)
          .filter(Q40TrainTestSplit.splitColOf("vec_id") === "train"))
        centroidsOf(train, K)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(centT)
        val assigned = assignClusters(train, spark.table(centT))
          .join(train, "vec_id")
          .select(col("cluster"), col("vec_id").as("base_id"),
            col("embedding").as("be"), col("n2").as("bn2"))
        graft.plans.Bucketing.writeBucketed(assigned, assignT, "cluster", 16)
    }
    (names(0), names(1))
  }

  /** Verdicts for an arbitrary delta (vec_id, embedding, n2, cluster)
    * frame against the stored assignment rows — batch (q70b) and
    * per-epoch streaming (s16) share this. */
  private[graft] def verdictFrame(deltaAssigned: DataFrame,
      store: DataFrame): DataFrame = {
    val cands = deltaAssigned.join(store, Seq("cluster"))
      .select(col("vec_id"), col("cluster"),
        (expr(flatDotExpr("embedding", "be")) /
          (sqrt(col("n2")) * sqrt(col("bn2")))).as("cos"),
        col("base_id"))
      .filter(col("cos") >= Tau)
      .select(col("vec_id"), lit(0).as("pri"), col("base_id"))
    val fresh = deltaAssigned.select(col("vec_id"), lit(1).as("pri"),
      lit(null).cast("long").as("base_id"))
    cands.unionByName(fresh)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("pri"), col("base_id"))).as("b"))
  }

  /** Assign a delta embedding frame against the stored centroids and
    * carry the vectors alongside. */
  private[graft] def assignDelta(delta: DataFrame,
      cent: DataFrame): DataFrame =
    assignClusters(delta, cent).join(delta, "vec_id")

  private[graft] def formatVerdicts(best: DataFrame,
      deltaAssigned: DataFrame): DataFrame =
    best
      .join(deltaAssigned.select(col("vec_id"), col("cluster")), "vec_id")
      .select(col("vec_id"), col("cluster"),
        when(col("b.pri") === 0, lit("dup")).otherwise(lit("new"))
          .as("verdict"),
        col("b.base_id").as("dom_id"))

  /** One delta ingest — raw (vec_id, embedding) rows to UNORDERED
    * verdict rows against the stored centroids + assignments; batch
    * (q70b) and per-epoch streaming (s16) share this, so the two
    * ingest tiers cannot drift. */
  private[graft] def ingest(delta: DataFrame, cent: DataFrame,
      store: DataFrame): DataFrame = {
    val assigned = assignDelta(withN2(delta).localCheckpoint(), cent)
    formatVerdicts(verdictFrame(assigned, store), assigned)
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (centT, assignT) = ensureStore(spark, dir)
    ingest(
        Tables.embeddings(spark, dir)
          .filter(Q40TrainTestSplit.splitColOf("vec_id") === "test"),
        spark.table(centT), spark.table(assignT))
      .orderBy(col("vec_id"))
  }

  private val duckSplitVec =
    "CASE WHEN instr('0123456789abcdef', " +
      "substr(md5(CAST(vec_id AS VARCHAR)), 32, 1)) - 1 < 13 " +
      "THEN 'train' ELSE 'test' END"

  /** The train→test delta-dedup CTE chain (through `assign` and
    * `doms`) — shared by this oracle, s16's, and s17's composed
    * replay. */
  private[graft] val duckDeltaChain: String = s"""e AS (
      SELECT vec_id, embedding, $duckSplitVec AS split
      FROM embeddings),
    n2 AS (SELECT vec_id, embedding, split,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
          (acc, p) -> acc + p) AS n2 FROM e),
    cent AS (SELECT vec_id AS cid, embedding AS ce, n2 AS cn2
             FROM n2 WHERE split = 'train' ORDER BY vec_id LIMIT $K),
    scored AS (SELECT v.vec_id, v.split, c.cid,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(1, len(v.embedding)+1),
            i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE))),
          (acc, p) -> acc + p) / (sqrt(v.n2) * sqrt(c.cn2)) AS cos
      FROM n2 v, cent c),
    assign AS (SELECT vec_id, split, cid AS cluster FROM (
        SELECT vec_id, split, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(1, len(ea.embedding)+1),
            i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))),
          (acc, p) -> acc + p) / (sqrt(ea.n2) * sqrt(eb.n2)) AS cos
      FROM assign a JOIN assign b
        ON a.cluster = b.cluster AND a.split = 'train' AND b.split = 'test'
      JOIN n2 ea ON ea.vec_id = a.vec_id
      JOIN n2 eb ON eb.vec_id = b.vec_id),
    doms AS (SELECT vb, min(va) AS dom_id FROM pairs
             WHERE cos >= $Tau GROUP BY vb)"""

  /** ALL-PAIRS relational replay of the train→test decision (the
    * store is an artifact; the semantics are pairs×threshold) —
    * shared with s16. */
  val oracle = Some(s"""
    WITH $duckDeltaChain
    SELECT a.vec_id, a.cluster,
      CASE WHEN d.dom_id IS NULL THEN 'new' ELSE 'dup' END AS verdict,
      d.dom_id
    FROM (SELECT vec_id, cluster FROM assign WHERE split = 'test') a
    LEFT JOIN doms d ON d.vb = a.vec_id
    ORDER BY a.vec_id
  """.trim)
}

/** Q70c — semantic dedup with TRAINED centroids: the production
  * clustering tier for q70's prune. q70's seed centroids make the
  * operator oracle-replayable, but arbitrary seeds cluster the space
  * arbitrarily — two near-dups straddling a seed boundary are never
  * compared (a candidate-RECALL miss, the one thing assignment
  * quality controls). This tier fits a seeded spark.ml KMeans
  * (distributed Lloyd — the q19d quantizer with the same fixed seed)
  * and hands its centers to the SAME `dedupWithCentroids` prune, so
  * verdict semantics are untouched: every drop still re-verifies by
  * exact cosine ≥ τ against a same-cluster lower id.
  *
  * Correctness posture is the q19c/q19d one — no DuckDB oracle
  * (KMeans' float iterations are not relationally replayable);
  * instead spec gates: seeded determinism, the q70 soundness
  * invariants (driver-re-verified drops, min-id survival), and a
  * measured candidate-recall comparison against the exhaustive
  * all-pairs ground truth alongside the seed tier (Round11eSpec
  * prints both, asserts the trained tier's floor).
  *
  * 100 TB posture: the fit is one distributed pass per Lloyd
  * iteration over (vec, K) distances (or a corpus sample — centroid
  * quality, not verdict soundness, is all that degrades); the prune
  * is q70's cluster-bounded join. K remains the operating knob. */
object Q70cSemanticDedupTrained extends GraftQuery {
  import Q70SemanticDedup.{dedupWithCentroids, withN2, K, Tau}
  val name = "q70c_semantic_dedup_trained"

  /** Seeded KMeans centers as a (cid, ce, cn2) centroid frame. */
  private[graft] def trainedCentroids(e: DataFrame): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = e.sparkSession
    import spark.implicits._
    val feats = e.select(col("vec_id"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new KMeans().setK(K).setSeed(42).setMaxIter(20)
      .setFeaturesCol("features").setPredictionCol("cluster").fit(feats)
    model.clusterCenters.zipWithIndex.map { case (c, i) =>
      val arr = c.toArray
      (i.toLong, arr, arr.map(x => x * x).sum)
    }.toSeq.toDF("cid", "ce", "cn2")
  }

  /** Snapshot dir (the trained centroid frame) of the last [[run]] —
    * the q19f bridge: KMeans float iterations are not relationally
    * replayable, but the trained (cid, ce, cn2) rows are, and the
    * whole assignment+prune is q70's shared chain over them.
    * Dir-keyed (VERDICT r17 #5): interleaved corpora pair via
    * [[oracleFor]]. */
  private val snapshot = new graft.plans.SnapRegistry[String]

  def run(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cent = trainedCentroids(e).localCheckpoint(true)
    val centSnap = graft.plans.Stores.snapPath(spark,
      "graft_q70c_cent_snap", dir, Seq("embeddings.parquet"))
    cent.repartition(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(centSnap)
    snapshot.put(dir, centSnap)
    dedupWithCentroids(withN2(e), cent, Tau)
      .orderBy(col("vec_id"))
  }

  /** HASH oracle over the pinned trained centroids: q70's own
    * assignment+prune CTE chain with `cent` read from the snapshot —
    * the recall/soundness gates stay in Round11eSpec. */
  def oracle: Option[String] = snapshot.latest.map(bridge)
  private[graft] def oracleFor(dir: String): Option[String] =
    snapshot.forDir(dir).map(bridge)
  private def bridge(centSnap: String): String = {
    s"""
    WITH ${Q70SemanticDedup.duckChainWith(
      s"cent AS (SELECT cid, ce, cn2 FROM read_parquet('$centSnap/*.parquet'))")}
    SELECT a.vec_id, a.cluster,
      CASE WHEN d.dom_id IS NULL THEN 'keep' ELSE 'drop' END AS verdict,
      d.dom_id
    FROM assign a LEFT JOIN doms d ON d.vb = a.vec_id
    ORDER BY a.vec_id
    """.trim
  }
}
