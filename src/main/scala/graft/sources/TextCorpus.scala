package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.InvertedIndex

/** The reference's input contract (R1/R3): a manifest file whose first
  * line is a count N followed by N file paths; file IDs are 1-based in
  * manifest order (/root/reference/src/main.cpp:334-345,
  * README.md:23-25). Output contract (R12–R15): exactly 26 files
  * `a.txt`…`z.txt`, lines `word:[i1 i2 …]` ordered df desc / word asc,
  * a letter with no words still yielding an empty file
  * (main.cpp:148-183).
  *
  * Spark-first shape: the manifest (tiny, driver-side) is planned by
  * the graft-corpus connector into newline-aligned byte-range splits
  * that carry their file's id — one task per split, which replaces the
  * reference's mutex-guarded work queue (main.cpp:216-226). The letter
  * files are committed by the graft-letters sink. Relative manifest
  * entries resolve against the manifest's directory.
  */
object TextCorpus {
  /** Parse a manifest into (path, 1-based id), resolving relative
    * paths against the manifest's parent directory. */
  def manifestEntries(manifestPath: String): Seq[(String, Long)] =
    manifestEntries(manifestPath, strict = true)

  /** strict=true (every PLANNING path): a count line ahead of the
    * visible path lines means a torn/truncated snapshot — throw, so
    * the read fails retryably instead of silently planning a partial
    * corpus (batch) or permanently skipping a committed offset range
    * (streaming — the checkpoint advances even if the snapshot was
    * short). strict=false (offset DISCOVERY only, where the caller
    * carries its own monotone floor): clamp to the visible prefix —
    * ids are positional, so the prefix is exactly a valid earlier
    * manifest state and the next trigger sees the rest. */
  def manifestEntries(manifestPath: String,
      strict: Boolean): Seq[(String, Long)] = {
    // Absolute + normalized: a bare `manifest.txt` has no parent to
    // resolve relative entries against, and every planned path must be
    // absolute so an executor never resolves it against its own CWD.
    val p = Paths.get(manifestPath).toAbsolutePath.normalize
    val lines = Files.readAllLines(p)
    if (lines.isEmpty) return Seq.empty
    val declared = lines.get(0).trim.toInt
    val visible = lines.size - 1
    if (strict && declared > visible)
      throw new IllegalStateException(
        s"torn/truncated manifest snapshot at $manifestPath: declares " +
          s"$declared entries, only $visible visible — retry when the " +
          "rewrite completes")
    val n = math.min(declared, visible)
    (1 to n).map { i =>
      val raw = Paths.get(lines.get(i).trim)
      val abs = if (raw.isAbsolute) raw else p.getParent.resolve(raw)
      (abs.normalize.toString, i.toLong)
    }
  }

  /** `documents`-shaped DataFrame (doc_id, text) from a manifest: one
    * row per LINE of each corpus file (the reference streams lines,
    * main.cpp:232-238; Q1's tokenizer splits them further). Read by
    * the graft-corpus connector ([[GraftCorpusSource]]): each split
    * carries its file's id, so file names are never round-tripped
    * through a URI and spaces or pluses in them need no repair. */
  def documents(spark: SparkSession, manifestPath: String): DataFrame =
    spark.read.format("graft-corpus").option("manifest", manifestPath).load()

  /** Reference-exact sink: 26 files `<letter>.txt` in outDir. */
  def writeLetterFiles(docs: DataFrame, outDir: String): Unit =
    writeLetterFilesFromIndex(InvertedIndex.index(docs), outDir)

  /** Same sink over a prebuilt index DF (word, letter, df, doc_ids) —
    * also the foreachBatch target for the streaming S6 pipeline. The
    * graft-letters sink ([[GraftLetterSink]]) commits the 26 files
    * through Spark's V2 committer (task-staged files published only at
    * driver commit) and declares its own cluster-by-letter distribution
    * and (df desc, word) ordering, so no repartition or sort is needed
    * here. */
  def writeLetterFilesFromIndex(index: DataFrame, outDir: String): Unit =
    index.select(col("letter"), col("word"), col("df").cast("long").as("df"),
      concat(col("word"), lit(":["),
        array_join(col("doc_ids"), " "), lit("]")).as("line"))
      .write.format("graft-letters").option("path", outDir)
      .mode("overwrite").save()

  /** End-to-end reference CLI equivalent: manifest in, a.txt…z.txt out. */
  def buildIndex(spark: SparkSession, manifestPath: String, outDir: String): Unit =
    writeLetterFiles(documents(spark, manifestPath), outDir)
}
