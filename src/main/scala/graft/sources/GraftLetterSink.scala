package graft.sources

import java.util

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, Transform, SortOrder => VSortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 SINK for the reference's 26-letter-file output
  * contract (R12–R15, /root/reference/src/main.cpp:148-183):
  *
  * {{{
  *   indexDf // (letter, word, df, line) — line is "word:[i1 i2 …]"
  *     .write.format("graft-letters")
  *     .option("path", outDir).mode("overwrite").save()
  *   // => outDir/a.txt … z.txt, empty files for absent letters
  * }}}
  *
  * This is the only writer behind
  * [[TextCorpus.writeLetterFilesFromIndex]], and it is task-atomic:
  * the output commits through Spark's V2 committer protocol. Each
  * task stages its letter files under a job-scoped staging dir and
  * reports them in its commit MESSAGE; only the driver-side
  * `commit(messages)` publishes staged files to their final names (one
  * rename per letter through the Hadoop FS API), and `abort` removes
  * the staging dir — a failed or speculatively-duplicated task
  * attempt's half-written file can never surface, on an object store
  * included.
  *
  * Spark-first detail: the sink itself declares
  * [[RequiresDistributionAndOrdering]] — clustered by `letter`,
  * ordered by (letter asc, df desc, word asc) — so Catalyst inserts
  * the exact shuffle+sort the output contract needs; callers can't
  * produce mis-ordered files by forgetting to repartition. A letter
  * lives entirely in one task, so each final file is one task's
  * sorted stream (several letters may share a task; the ordering
  * keeps them contiguous). */
class GraftLetterSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-letters"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftLetterSink.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftLetterTable(
      new CaseInsensitiveStringMap(properties).get("path"))
}

object GraftLetterSink {
  val schema: StructType = StructType(Seq(
    StructField("letter", StringType, nullable = false),
    StructField("word", StringType, nullable = false),
    StructField("df", LongType, nullable = false),
    StructField("line", StringType, nullable = false)))
}

class GraftLetterTable(path: String) extends Table with SupportsWrite {
  require(path != null,
    """graft-letters requires .option("path", <outDir>)""")
  override def name(): String = s"graft-letters($path)"
  override def schema(): StructType = GraftLetterSink.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftLetterWriteBuilder(path, info)
}

/** Overwrite == the only sensible mode for a fixed 26-file contract;
  * truncate() is accepted and means "replace the letter files". */
class GraftLetterWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder = this
  override def build(): Write = new GraftLetterWrite(path, info)
}

class GraftLetterWrite(path: String, info: LogicalWriteInfo)
    extends Write with RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.identity("letter")))
  override def requiredOrdering(): Array[VSortOrder] = Array(
    Expressions.sort(Expressions.column("letter"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column("df"), SortDirection.DESCENDING),
    Expressions.sort(Expressions.column("word"), SortDirection.ASCENDING))
  override def toBatch: BatchWrite =
    new GraftLetterBatchWrite(path, info.queryId(), info.schema())
}

/** A task's staged output: the letters it wrote and where. */
case class LetterTaskCommit(staged: Seq[(String, String)])
  extends WriterCommitMessage

class GraftLetterBatchWrite(path: String, queryId: String,
    schema: StructType) extends BatchWrite {
  private val stagingDir = s"$path/_staging-$queryId"
  private def hadoopConf = org.apache.spark.sql.SparkSession.active
    .sessionState.newHadoopConf()
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftLetterWriterFactory(stagingDir,
      schema.fieldIndex("letter"), schema.fieldIndex("line"),
      new SerializableConfiguration(hadoopConf))
  /** Publish: one rename per staged letter file, then touch the empty
    * letters. Runs once, driver-side, only after every task committed
    * — the V2 protocol's atomic point. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = hadoopConf
    val out = new Path(path)
    val fs = out.getFileSystem(conf)
    fs.mkdirs(out)
    val staged = messages.collect {
      case LetterTaskCommit(s) => s
    }.flatten
    val byLetter = staged.groupBy(_._1)
    // the distribution contract puts one letter in exactly one task;
    // two tasks claiming a letter means the cluster-by broke — fail
    // loudly rather than publish whichever rename won
    byLetter.collect { case (l, ps) if ps.size > 1 =>
      throw new IllegalStateException(
        s"letter '$l' staged by ${ps.size} tasks — cluster-by-letter " +
          "distribution contract broken")
    }
    for (letter <- 'a' to 'z') {
      val target = new Path(out, s"$letter.txt")
      fs.delete(target, false)
      byLetter.get(letter.toString).map(_.head._2) match {
        case Some(stagedPath) =>
          if (!fs.rename(new Path(stagedPath), target))
            throw new IllegalStateException(s"rename failed for $letter.txt")
        case None =>
          fs.create(target, true).close() // empty letter → empty file
      }
    }
    fs.delete(new Path(stagingDir), true)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(stagingDir).getFileSystem(hadoopConf)
    fs.delete(new Path(stagingDir), true)
  }
}

class GraftLetterWriterFactory(stagingDir: String, letterIdx: Int,
    lineIdx: Int, conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftLetterWriter(stagingDir, letterIdx, lineIdx, partitionId,
      taskId, conf.value)
}

/** Writes each letter's lines to a task-attempt-scoped staged file.
  * Rows arrive clustered and sorted (the Write's required ordering),
  * so letters are contiguous: at most one staged file is open at a
  * time. Nothing is published here — commit() only REPORTS the staged
  * paths; publishing is the driver's job. */
class GraftLetterWriter(stagingDir: String, letterIdx: Int, lineIdx: Int,
    partitionId: Int, taskId: Long,
    conf: org.apache.hadoop.conf.Configuration)
    extends DataWriter[InternalRow] {
  private val fs = new Path(stagingDir).getFileSystem(conf)
  private var staged = Vector.empty[(String, String)]
  private var current: String = null
  private var out: java.io.OutputStream = null
  private val newline = "\n".getBytes("UTF-8")
  override def write(row: InternalRow): Unit = {
    // The publish loop ('a' to 'z') is the sink's whole contract; a
    // staged file for any other letter value would survive the task
    // commit and then vanish with the staging dir — a SUCCESSFUL write
    // that silently lost rows. Reject at the source of the data.
    // (Null check BEFORE getString: the DSv2 write path does not
    // enforce the schema's nullable=false, and getString NPEs first.)
    if (row.isNullAt(letterIdx))
      throw new IllegalArgumentException(
        "graft-letters sink requires letter in 'a'..'z', got null")
    val letter = row.getString(letterIdx)
    if (letter.length != 1 ||
        letter.charAt(0) < 'a' || letter.charAt(0) > 'z')
      throw new IllegalArgumentException(
        s"graft-letters sink requires letter in 'a'..'z', got '$letter'")
    if (letter != current) {
      if (out != null) out.close()
      val p = new Path(stagingDir,
        s"letter-$letter-p$partitionId-t$taskId.txt")
      out = fs.create(p, true)
      staged :+= (letter -> p.toString)
      current = letter
    }
    out.write(row.getString(lineIdx).getBytes("UTF-8"))
    out.write(newline)
  }
  override def commit(): WriterCommitMessage = {
    if (out != null) { out.close(); out = null }
    LetterTaskCommit(staged)
  }
  override def abort(): Unit = {
    if (out != null) { out.close(); out = null }
    staged.foreach { case (_, p) => fs.delete(new Path(p), false) }
  }
  override def close(): Unit = if (out != null) { out.close(); out = null }
}
