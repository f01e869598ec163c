package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Standing rules for the main source tree (ROADMAP aim 2), read from
  * the sources themselves:
  *  - its only entry points are `graft.Cli` (the reference job),
  *  `graft.Verify` (the correctness dump) and `graft.Bench` (the legacy
  *  floor check) — no one-off diagnostic mains, no second harness;
  *  - it reads no JVM system property and no `spark.graft.*` session
  *  setting, so no `-D` or `--conf` setting can choose between
  *  equivalent paths;
  *  - bucketed writes go through `plans/Bucketing` alone (a build via
  *  `writeBucketed`, an admission via `appendBucketed`), so no store
  *  restates its bucket spec;
  *  - Q1 and S6 tokenize through `TokenizeWords` alone, never a
  *  whitespace split;
  *  - MinHash signatures and match counts come from the
  *  `functions/MinHash` kernel alone: no `array_min` signature folds,
  *  no 32-term match-count chain. */
class SourceLayoutSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val entryPoints =
    Set("graft/Cli.scala", "graft/Verify.scala", "graft/Bench.scala")

  /** (path relative to `root`, line number, line) of every code line;
    * comment lines are skipped so prose may name what it forbids. */
  private lazy val codeLines: Seq[(String, Int, String)] = {
    import scala.jdk.CollectionConverters._
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val s = Files.walk(root)
    val files = try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".scala")).toVector.sorted
      finally s.close()
    for {
      f <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
    } yield (rel, i + 1, line)
  }

  private def offenders(p: String => Boolean,
      allowed: String => Boolean = _ => false): Seq[String] =
    codeLines.collect {
      case (rel, n, line) if p(line) && !allowed(rel) => s"$rel:$n: ${line.trim}"
    }

  test("main code has no entry point besides Cli, Verify and Bench") {
    val main = raw"\bdef\s+main\s*\(|\bextends\s+App\b".r
    val found = offenders(main.findFirstIn(_).isDefined, entryPoints)
    assert(found.isEmpty, found.mkString("entry points outside Cli/Verify/Bench:\n", "\n", ""))
  }

  test("main code reads no JVM system property") {
    val prop = raw"\bsys\.props\b|\bSystem\.getPropert(y|ies)\b".r
    val found = offenders(prop.findFirstIn(_).isDefined)
    assert(found.isEmpty, found.mkString("system property reads:\n", "\n", ""))
  }

  test("main code reads no spark.graft. session setting") {
    val found = offenders(_.contains("\"spark.graft."))
    assert(found.isEmpty, found.mkString("spark.graft.* settings:\n", "\n", ""))
  }

  test("main code writes bucketed tables only through plans/Bucketing") {
    val found = offenders(_.contains(".bucketBy("), _ == "graft/plans/Bucketing.scala")
    assert(found.isEmpty, found.mkString("bucketBy outside plans/Bucketing:\n", "\n", ""))
  }

  test("Q1 and S6 tokenize without a split") {
    val tokenizers = Set("graft/queries/InvertedIndex.scala", "graft/streaming/Streams.scala")
    val found = offenders(_.contains("split("), rel => !tokenizers(rel))
    assert(found.isEmpty, found.mkString("split in the Q1/S6 tokenizer:\n", "\n", ""))
  }

  test("MinHash signatures and match counts come from the kernel alone") {
    val found = offenders(l => l.contains("array_min(transform(") || l.contains("matchCountExpr"))
    assert(found.isEmpty, found.mkString("MinHash outside functions/MinHash:\n", "\n", ""))
  }
}
