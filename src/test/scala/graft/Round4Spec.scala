package graft

import org.apache.spark.sql.functions._

import graft.queries._

/** Oracle-independent invariants for the round-4 operators (q18f
  * cluster resolution, q30b approx percentiles, q31 map/JSON). */
class Round4Spec extends SparkSpec {
  import spark.implicits._

  test("q18f clusters: keeper is min member, members are disjoint, pairs co-clustered") {
    val clusters = Q18fDedupClusters.run(spark, sf01).collect()
    assert(clusters.nonEmpty) // sf0.01 has 37 minhash pairs
    val memberSets = clusters.map { r =>
      val cid = r.getAs[Long]("cluster_id")
      val ids = r.getAs[String]("doc_ids").split(" ").map(_.toLong).toSeq
      assert(ids.size === r.getAs[Long]("n_docs"))
      assert(ids.size >= 2, s"cluster $cid: every pair node has a partner")
      assert(ids.min === cid, s"cluster $cid: keeper must be min member")
      assert(ids === ids.sorted, s"cluster $cid: members sorted")
      ids.toSet
    }
    // clusters partition the node set: no doc in two clusters
    val all = memberSets.flatten
    assert(all.length === all.distinct.length)
    // every candidate pair ends up in one cluster (edges never cross)
    val byDoc = memberSets.zipWithIndex
      .flatMap { case (s, i) => s.map(_ -> i) }.toMap
    val pairs = Q18bDedupMinHash.run(spark, sf01)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect() ++
      Q18dDedupNgram.run(spark, sf01)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(byDoc(a) === byDoc(b), s"pair ($a,$b) split across clusters")
    }
  }

  test("q18b: documents with fewer than 3 tokens add no rows and no error") {
    def docsDir(rows: Seq[(Long, String)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("q18b_short").toString
      rows.map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val copy = (1 to 20).map(i => s"word$i").mkString(" ")
    val long = Seq(1L -> copy, 2L -> copy,
      3L -> (1 to 20).map(i => s"other$i").mkString(" "))
    val short = Seq(4L -> "two tokens", 5L -> "one", 6L -> "")
    def pairs(dir: String) =
      Q18bDedupMinHash.run(spark, dir).collect().map(_.toSeq).toSeq
    val expected = pairs(docsDir(long))
    assert(expected.map(r => (r(0), r(1))) === Seq((1L, 2L)))
    assert(pairs(docsDir(long ++ short)) === expected)
  }

  test("window and gram sites: 0-4-token documents raise no error under ANSI and add no rows") {
    // q60/q60b/q60c/q60d reach the span-window starts, q46/q46b/q46c
    // the 5-gram starts, q61b the Gopher n-gram starts
    val qs = Seq(Q60RepeatedSpans, Q60bLongestSharedSpans,
      Q60cExciseDuplicates, Q60dExciseStore, Q46Decontaminate,
      Q46bDecontaminateDfCap, Q46cDecontaminateBloom, Q61bGopherRepetition)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    // ids far above the fixture's and above any count in these outputs
    val shortIds = (9000001L to 9000005L)
    val short = shortIds.zip(Seq("", "one", "two tokens", "a b c",
      "w x y z")).map { case (id, text) =>
        (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def docsDir(df: org.apache.spark.sql.DataFrame): String = {
      val dir = java.nio.file.Files.createTempDirectory("short_docs").toString
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val (plain, withShort) = (docsDir(docs), docsDir(docs.unionByName(short)))
    def mentionsShort(r: org.apache.spark.sql.Row) =
      r.toSeq.exists { case v: Long => shortIds.contains(v); case _ => false }
    withConfs("spark.sql.ansi.enabled" -> "true") {
      for (q <- qs) {
        def rows(dir: String) = q.run(spark, dir).collect()
          .filterNot(mentionsShort).map(_.toSeq.toString).sorted.toSeq
        assert(rows(withShort) === rows(plain), q.name)
      }
    }
  }

  test("q30b approx flags hold and exact columns agree with q30") {
    val approx = Q30bApproxPercentiles.run(spark, sf01).collect()
    assert(approx.length === 3) // one row per return flag
    approx.foreach { r =>
      assert(r.getAs[Boolean]("approx_median_ok"), s"median drift: $r")
      assert(r.getAs[Boolean]("approx_p90_ok"), s"p90 drift: $r")
      assert(r.getAs[Boolean]("approx_p25_ok"), s"p25 drift: $r")
    }
    val exact = Q30Percentiles.run(spark, sf01).collect()
    for ((a, e) <- approx.zip(exact); c <- Seq("median_qty", "p90_price", "p25_disc"))
      assert(a.getAs[Double](c) === e.getAs[Double](c), s"$c differs from q30")
  }

  test("q32 as-of: one row per click, match is at-or-before, gap consistent") {
    val out = Q32AsofJoin.run(spark, sf01).collect()
    val nClicks = Tables.events(spark, sf01)
      .filter($"event_type" === "click").count()
    assert(out.length === nClicks)
    out.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("purchase_ts_us"))) {
        val ts = r.getAs[Long]("ts_us")
        val pts = r.getAs[Long]("purchase_ts_us")
        assert(pts <= ts, s"as-of match after the click: $r")
        assert(r.getAs[Long]("gap_us") === ts - pts)
      } else assert(r.isNullAt(r.fieldIndex("purchase_value")))
    }
  }

  test("q22 survives zero-token documents (ANSI division guard)") {
    // Under Spark 4's default ANSI mode a /0 aborts the query; the
    // ratio divisors go through nullif so empty/whitespace-only docs
    // produce null ratios that the n_tokens > 0 filter then drops.
    val dir = java.nio.file.Files.createTempDirectory("q22_ansi").toString
    Seq((0L, "", "en", "src0", 0L),
        (1L, "hello world", "en", "src0", 11L),
        (2L, "   ", "en", "src0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Q22QualityScore.run(spark, dir).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L))
  }

  test("q31 map explode: every event contributes its json key plus the derived entry") {
    val out = Q31MapJson.run(spark, sf01).collect()
    val types = Tables.events(spark, sf01)
      .groupBy($"event_type").count().as[(String, Long)].collect().toMap
    // one 'et_len' and one 'k' row per event_type
    assert(out.length === 2 * types.size)
    out.foreach { r =>
      val et = r.getAs[String]("event_type")
      assert(Set("k", "et_len").contains(r.getAs[String]("pkey")))
      assert(r.getAs[Long]("n") === types(et), s"row count per key = events of $et")
      assert(r.getAs[Int]("max_n_keys") === 2)
      if (r.getAs[String]("pkey") == "et_len")
        // derived map entry: value is length(event_type) for every event
        assert(r.getAs[Long]("sum_val") === et.length.toLong * types(et))
    }
    // struct_k sum is per-event data, identical whichever key row carries it
    out.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("sum_struct_k")).distinct.length === 1)
    }
  }
}
