package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{GraftChunk, GraftCorpusScan, TextCorpus}

/** Hardening invariants for the connector/sink (round-9 review):
  * torn-manifest semantics, degenerate sizing, letter-contract
  * enforcement, and the block-buffered line reader's ownership
  * protocol under every possible split point. */
class ConnectorHardeningSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("r9hard").toString

  test("strict manifest read throws on a torn snapshot; tolerant clamps") {
    val dir = tmp()
    val m = Paths.get(dir, "manifest.txt")
    // declares 3 entries, only 2 visible — a mid-rewrite snapshot
    Files.writeString(m, "3\na.txt\nb.txt\n")
    val ex = intercept[IllegalStateException] {
      TextCorpus.manifestEntries(m.toString)
    }
    assert(ex.getMessage.contains("torn"))
    val clamped = TextCorpus.manifestEntries(m.toString, strict = false)
    assert(clamped.map(_._2) === Seq(1L, 2L))
  }

  test("planChunks survives openCost=0 on a tiny corpus with huge parallelism") {
    // totalCost/parallelism = 0 and openCost = 0 → split must floor at
    // 1, not crash `0L until len by 0`
    val entries = (1L to 40L).map(i => (s"f$i", i, 11L))
    val parts = GraftCorpusScan.planChunks(entries,
      maxPartitionBytes = 128L * 1024 * 1024, openCost = 0L,
      parallelism = 512)
    val chunks = parts.flatMap(
      _.asInstanceOf[graft.sources.GraftCorpusPartition].chunks)
    assert(chunks.map(_.docId).toSet === (1L to 40L).toSet)
    assert(chunks.groupBy(c => (c.docId, c.start)).forall(_._2.length == 1))
  }

  test("letters sink rejects letters outside a-z instead of losing them") {
    import spark.implicits._
    val dir = tmp()
    val ex = intercept[Exception] {
      Seq(("A", "Aword", 1L, "upper is out of contract"))
        .toDF("letter", "word", "df", "line")
        .write.format("graft-letters").mode("overwrite").save(dir)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(e => String.valueOf(e.getMessage)).toSeq
    assert(chain(ex).exists(_.contains("'a'..'z'")), chain(ex).mkString(" | "))
  }

  test("letters sink abort leaves NO partial output and NO staging dir") {
    import spark.implicits._
    val dir = tmp()
    // rows sort (letter asc) so several good letters stage BEFORE the
    // poisoned one aborts the job — exactly the partial-failure case
    // the staged-commit protocol exists for
    val rows = Seq(("a", "aw", 1L, "line a"), ("b", "bw", 1L, "line b"),
      ("z!", "zw", 1L, "poison"))
    intercept[Exception] {
      rows.toDF("letter", "word", "df", "line")
        .write.format("graft-letters").mode("overwrite").save(dir)
    }
    val leftovers = Option(new java.io.File(dir).listFiles()).toSeq.flatten
    assert(leftovers.isEmpty,
      s"aborted write must publish nothing, found: ${leftovers.mkString(",")}")
  }

  test("letters sink leaves exactly a.txt..z.txt: no checksum sidecars") {
    import spark.implicits._
    val dir = tmp()
    Seq(("a", "aw", 1L, "aw:[1]"), ("q", "qw", 2L, "qw:[1 2]"))
      .toDF("letter", "word", "df", "line")
      .write.format("graft-letters").mode("overwrite").save(dir)
    val names = new java.io.File(dir).list().toSeq.sorted
    assert(names === ('a' to 'z').map(l => s"$l.txt"))
  }

  test("letters sink over an older checksum-FS write reads back the new content") {
    import spark.implicits._
    val dir = tmp()
    // an older write through Hadoop's checksum FS leaves a .x.txt.crc
    // sidecar beside every letter file
    val local = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    for (l <- 'a' to 'z') {
      val out = local.create(new org.apache.hadoop.fs.Path(dir, s"$l.txt"), true)
      out.write(s"old$l:[9]\n".getBytes("UTF-8")); out.close()
    }
    assert(new java.io.File(dir, ".a.txt.crc").exists(), "no sidecar — test vacuous")
    Seq(("a", "apple", 1L, "apple:[1]"), ("b", "bee", 1L, "bee:[2]"))
      .toDF("letter", "word", "df", "line")
      .write.format("graft-letters").mode("overwrite").save(dir)
    assert(spark.read.text(dir).as[String].collect().sorted.toSeq ===
      Seq("apple:[1]", "bee:[2]"))
    assert(!new java.io.File(dir).list().exists(_.endsWith(".crc")))
  }

  test("streaming against a nonexistent manifest fails fast, not a silent stall") {
    val q = spark.readStream.format("graft-corpus")
      .option("manifest", "/nonexistent/graft/manifest.txt")
      .load()
      .writeStream.format("memory").queryName("r9hard_missing")
      .outputMode("append").start()
    try {
      val ex = intercept[Exception] { q.processAllAvailable() }
      assert(String.valueOf(ex.getMessage).nonEmpty)
    } finally q.stop()
  }

  test("line reader assigns every line to exactly one chunk at EVERY split point") {
    val dir = tmp()
    // CRLF line, empty line, multi-byte UTF-8, no trailing newline
    val content = "alpha beta\ngamma\r\n\ndélta é\nomega"
    val f = Paths.get(dir, "c.txt")
    Files.write(f, content.getBytes("UTF-8"))
    val expected = Seq("alpha beta", "gamma", "", "délta é", "omega")
    val len = Files.size(f)
    val conf = new org.apache.hadoop.conf.Configuration()
    def linesOf(chunk: GraftChunk): Seq[String] = {
      val r = new graft.sources.ChunkLineReader(chunk, conf)
      try Iterator.continually(r.nextLine()).takeWhile(_ != null)
        .map(new String(_, "UTF-8")).toList
      finally r.close()
    }
    (1L until len).foreach { s =>
      val got = linesOf(GraftChunk(f.toString, 1L, 0L, s)) ++
        linesOf(GraftChunk(f.toString, 1L, s, len - s))
      assert(got === expected, s"split at byte $s")
    }
    // single chunk and three-way splits
    assert(linesOf(GraftChunk(f.toString, 1L, 0L, len)) === expected)
    (1L until len - 1).foreach { a =>
      val got = linesOf(GraftChunk(f.toString, 1L, 0L, a)) ++
        linesOf(GraftChunk(f.toString, 1L, a, 1L)) ++
        linesOf(GraftChunk(f.toString, 1L, a + 1, len - a - 1))
      assert(got === expected, s"three-way split at $a")
    }
  }
}
