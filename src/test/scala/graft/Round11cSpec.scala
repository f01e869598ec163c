package graft

import java.nio.file.{Files, Paths}

import graft.sources.TextCorpus

/** Round 11 — READ-PATH FAILURE INJECTION: the sink's committer
  * discipline was already tested; this closes the other half of the
  * fault matrix. A corpus-source task is killed MID-READ (after it
  * has already produced rows) on every first attempt; the scheduler
  * retries the task (local[n, 2] — the cluster's maxFailures posture),
  * the retry re-creates the DSv2 reader from its InputPartition, and
  * the golden letter files must come out BYTE-IDENTICAL to a clean
  * run — the determinism-under-retry contract a 1000-executor job
  * (task retries, speculative attempts) silently relies on. */
class Round11cSpec extends SparkSpec {
  private val root = Paths.get("src/test/resources/golden")

  private def letterBytes(dir: String): Map[Char, Seq[Byte]] =
    ('a' to 'z').map { c =>
      val p = Paths.get(dir, s"$c.txt")
      c -> (if (Files.exists(p)) Files.readAllBytes(p).toSeq else Seq.empty[Byte])
    }.toMap

  test("corpus-source task killed mid-read on attempt 0: retried read keeps golden output byte-identical") {
    val caseDir = root.resolve("skew")
    val manifest = caseDir.resolve("manifest.txt").toString

    val clean = Files.createTempDirectory("ginj_clean").toString
    TextCorpus.buildIndex(spark, manifest, clean)

    val faulted = Files.createTempDirectory("ginj_fault").toString
    // Accumulator updates from FAILED tasks are discarded by Spark,
    // so the kill count lives in a JVM-static counter instead
    // (local mode: executor threads share this JVM). The retry
    // count can use a normal accumulator — retries succeed.
    Round11cSpec.kills.set(0)
    val retries = spark.sparkContext.longAccumulator("observed_retries")
    import spark.implicits._
    val docs = TextCorpus.documents(spark, manifest)
    val flaky = docs.as[(Long, String)].mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0) {
        // First attempt: serve one row, then die mid-read — the
        // reader is already open and has already emitted data, the
        // worst point to lose a task.
        new Iterator[(Long, String)] {
          private var served = 0
          def hasNext: Boolean = {
            if (served >= 1 && it.hasNext) {
              Round11cSpec.kills.incrementAndGet()
              throw new RuntimeException("injected mid-read task death (attempt 0)")
            }
            it.hasNext
          }
          def next(): (Long, String) = { served += 1; it.next() }
        }
      } else {
        if (tc != null && tc.attemptNumber() > 0) retries.add(1)
        it
      }
    }.toDF("doc_id", "text")
    TextCorpus.writeLetterFiles(flaky, faulted)

    assert(Round11cSpec.kills.get() > 0, "the mid-read failure never fired")
    assert(retries.value > 0, "no task retry was observed — master must be local[n, 2]")
    assert(letterBytes(faulted) == letterBytes(clean),
      "golden letter files diverged after a mid-read task retry")
  }

  test("speculative duplicate attempt: two readers over the same partition produce identical rows") {
    // Speculation runs a SECOND attempt of a still-alive task; the
    // committed result must not depend on which one wins. The DSv2
    // read path has no attempt-scoped state: reading the same scan
    // twice (fresh readers over the same InputPartitions) must give
    // identical (doc_id, text) multisets.
    val manifest = root.resolve("dupes").resolve("manifest.txt").toString
    def snapshot() = TextCorpus.documents(spark, manifest)
      .orderBy("doc_id", "text").collect().toSeq.map(_.toSeq)
    assert(snapshot() == snapshot())
  }
}

object Round11cSpec {
  /** JVM-static kill counter — see the accumulator note above. */
  val kills = new java.util.concurrent.atomic.AtomicInteger(0)
}
