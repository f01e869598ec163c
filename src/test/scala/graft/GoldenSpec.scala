package graft

import java.nio.file.{Files, Paths}

import graft.sources.TextCorpus

/** SURVEY §5.2 item 3 — byte-exact golden tests against the compiled
  * reference binary (g++ -O2 src/main.cpp, run on the committed
  * corpora in src/test/resources/golden/<case>/). Each case compares
  * all 26 letter files of TextCorpus.buildIndex against the binary's
  * own a.txt…z.txt.
  *
  * `empty` (N=0 manifest) is the one hand-made golden: the reference
  * binary segfaults on an empty manifest, so the expected output is
  * pinned to the documented contract (26 empty files,
  * main.cpp:148-162) rather than to the crash.
  */
class GoldenSpec extends SparkSpec {
  private val root = Paths.get("src/test/resources/golden")
  private val cases = Seq("tiny", "dupes", "skew", "empty", "blank")

  for (c <- cases) test(s"golden case '$c': 26 letter files byte-match the reference") {
    val caseDir = root.resolve(c)
    val outDir = Files.createTempDirectory(s"golden_$c").toString
    TextCorpus.buildIndex(spark, caseDir.resolve("manifest.txt").toString, outDir)
    assertMatchesExpected(caseDir, outDir, c)
  }

  test("growing manifest streamed through the connector converges to the golden files") {
    // End-to-end marriage of the two extension rungs: the DSv2
    // connector's micro-batch stream feeds the incremental inverted
    // index, whose foreachBatch sink republishes the reference's
    // 26-file output. Half the corpus arrives first, the manifest
    // then grows to full — the final letter files must byte-match the
    // reference binary's output for the whole corpus (ids are
    // manifest positions, so the staged prefixes assign the same ids
    // the full manifest does).
    val caseDir = root.resolve("tiny")
    val entries = TextCorpus.manifestEntries(
      caseDir.resolve("manifest.txt").toString)
    assert(entries.size >= 2)
    val stage = Files.createTempDirectory("golden_stream")
    // Write-temp + ATOMIC_MOVE: the streaming source polls this file
    // on its own thread, so an in-place write could expose a torn
    // snapshot (count line ahead of the paths) mid-poll.
    def writeManifest(n: Int): Unit = {
      val tmp = stage.resolve("manifest.txt.tmp")
      Files.write(tmp,
        (s"$n\n" + entries.take(n).map(_._1).mkString("\n") + "\n")
          .getBytes("UTF-8"))
      Files.move(tmp, stage.resolve("manifest.txt"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeManifest(entries.size / 2)
    val outDir = Files.createTempDirectory("golden_stream_out").toString
    val stream = spark.readStream.format("graft-corpus")
      .option("manifest", stage.resolve("manifest.txt").toString).load()
    val q = graft.streaming.Streams.writeIndexLetterFiles(stream, outDir)
    try {
      q.processAllAvailable()
      writeManifest(entries.size) // the rest of the corpus arrives
      q.processAllAvailable()
    } finally q.stop()
    assertMatchesExpected(caseDir, outDir, "tiny-via-streaming-connector")
  }

  test("reference CLI contract: Cli.main(M, R, manifest, outDir) end-to-end") {
    val caseDir = root.resolve("tiny")
    val outDir = Files.createTempDirectory("golden_cli").toString
    // Same arg shape as `./tema1 4 4 manifest.txt` (README.md:16); the
    // 4th arg redirects output away from the CWD. getOrCreate reuses
    // the suite session, so this exercises the full main body.
    Cli.main(Array("4", "4", caseDir.resolve("manifest.txt").toString, outDir))
    assertMatchesExpected(caseDir, outDir, "tiny-via-cli")
  }

  test("manifest join survives spaces and pluses in file names") {
    // A read that recovers ids from file URIs would see these names
    // percent-encoded (and a form decoder would turn '+' into ' '),
    // silently dropping the files. The connector carries each file's
    // id in its partition, so both names must read back unchanged.
    val dir = Files.createTempDirectory("golden_enc")
    Files.write(dir.resolve("with space.txt"), "alpha bravo".getBytes("UTF-8"))
    Files.write(dir.resolve("a+b.txt"), "charlie delta".getBytes("UTF-8"))
    Files.write(dir.resolve("manifest.txt"),
      "2\nwith space.txt\na+b.txt\n".getBytes("UTF-8"))
    val docs = TextCorpus.documents(spark, dir.resolve("manifest.txt").toString)
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((1L, "alpha bravo"), (2L, "charlie delta")))
  }

  test("CR-only line endings give the same letter files as LF endings") {
    // The connector splits lines only on '\n', so a CR-only file reads
    // as one long line; the tokenizer treats a lone '\r' as whitespace,
    // so the index (per file, not per line) must not change.
    val lfCase = root.resolve("skew")
    val crCase = Files.createTempDirectory("golden_cr")
    Files.copy(lfCase.resolve("manifest.txt"), crCase.resolve("manifest.txt"))
    for ((path, _) <- TextCorpus.manifestEntries(
        lfCase.resolve("manifest.txt").toString)) {
      val rel = lfCase.toAbsolutePath.normalize.relativize(Paths.get(path))
      val bytes = Files.readAllBytes(Paths.get(path))
      assert(bytes.contains('\n'.toByte), s"$rel has no LF to convert")
      Files.createDirectories(crCase.resolve(rel).getParent)
      Files.write(crCase.resolve(rel),
        bytes.map(b => if (b == '\n'.toByte) '\r'.toByte else b))
    }
    val lfOut = Files.createTempDirectory("golden_lf_out").toString
    val crOut = Files.createTempDirectory("golden_cr_out").toString
    TextCorpus.buildIndex(spark, lfCase.resolve("manifest.txt").toString, lfOut)
    TextCorpus.buildIndex(spark, crCase.resolve("manifest.txt").toString, crOut)
    for (letter <- 'a' to 'z') {
      val lf = Files.readAllBytes(Paths.get(lfOut, s"$letter.txt"))
      val cr = Files.readAllBytes(Paths.get(crOut, s"$letter.txt"))
      assert(java.util.Arrays.equals(lf, cr), s"letter $letter differs")
    }
    assertMatchesExpected(lfCase, crOut, "skew-with-cr-endings")
  }

  private def assertMatchesExpected(caseDir: java.nio.file.Path,
                                    outDir: String, label: String): Unit = {
    for (letter <- 'a' to 'z') {
      val ours = Paths.get(outDir, s"$letter.txt")
      val theirs = caseDir.resolve("expected").resolve(s"$letter.txt")
      assert(Files.exists(ours), s"missing $letter.txt")
      val a = new String(Files.readAllBytes(ours), "UTF-8")
      val b = new String(Files.readAllBytes(theirs), "UTF-8")
      assert(a === b, s"case $label letter $letter differs")
    }
  }
}
