package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Fixture loads infer a table's schema once per file state: a repeat
  * load starts no Spark job, and a rewritten file is inferred again. */
class TablesSpec extends SparkSpec {

  test("a second Tables.documents on the same dir starts no Spark job") {
    val dir = Files.createTempDirectory("tables-schema")
    try {
      Files.copy(Paths.get(s"$sf/documents.parquet"), dir.resolve("documents.parquet"))
      val (first, _) = listened { Tables.documents(spark, dir.toString) }
      assert(first >= 1, "the first load infers the schema with a job")
      val (second, _) = listened { Tables.documents(spark, dir.toString) }
      assert(second == 0, s"a repeat load started $second jobs")
      assert(Tables.documents(spark, dir.toString).count() ===
        Tables.documents(spark, sf).count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a rewritten documents file with a new length or mtime is inferred again") {
    val dir = Files.createTempDirectory("tables-rewrite")
    val file = dir.resolve("documents.parquet")
    try {
      Files.copy(Paths.get(s"$sf/documents.parquet"), file)
      Tables.documents(spark, dir.toString)
      val wider = Tables.documents(spark, sf).withColumn("extra", lit(7L))
      val staged = dir.resolve("staged")
      wider.coalesce(1).write.parquet(staged.toString)
      val part = Files.list(staged).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      Files.delete(file)
      Files.move(part, file)
      val (jobs, _) = listened {
        assert(Tables.documents(spark, dir.toString).columns.contains("extra"))
      }
      assert(jobs >= 1, "the rewritten file was not inferred again")
      // Same length, new mtime: still inferred again.
      Files.setLastModifiedTime(file,
        java.nio.file.attribute.FileTime.fromMillis(Files.getLastModifiedTime(file).toMillis + 5000))
      val (again, _) = listened { Tables.documents(spark, dir.toString) }
      assert(again >= 1, "a new mtime was not inferred again")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
