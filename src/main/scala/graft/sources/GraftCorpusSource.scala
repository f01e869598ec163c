package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector exposing the reference's manifest corpus
  * (count line + N file paths, 1-based ids —
  * /root/reference/src/main.cpp:334-345) as a first-class Spark
  * source:
  *
  * {{{
  *   spark.read.format("graft-corpus")
  *     .option("manifest", "/path/to/manifest.txt").load()
  *   // => DataFrame(doc_id BIGINT, text STRING), one row per line
  * }}}
  *
  * This is the only read path of [[TextCorpus.documents]]. Every
  * planned chunk carries its manifest file's id, so the path→id
  * mapping travels with the partition itself — no join against file
  * names, no URI round-trip that would need percent-decoding — and
  * Spark's scheduler distributes the chunks exactly like the
  * reference's dynamic work queue distributes files to mappers
  * (main.cpp:216-226, R2). Column pruning is pushed into the scan
  * ([[SupportsPushDownRequiredColumns]]): a `count(*)` or doc_id-only
  * query never materializes line text.
  *
  * Scale posture (round 9): partition granularity follows Spark's own
  * file-source policy, not the manifest's — one 100 GB corpus file
  * becomes many newline-aligned byte-range splits (the
  * FileSourceScanExec pattern: a split owns the lines that START
  * inside it, the first partial line belongs to the previous split),
  * and a million tiny files bin-pack into
  * `totalBytes / defaultParallelism`-sized partitions so the
  * scheduler sees thousands of tasks, not millions. The split size
  * follows the session's `spark.sql.files.maxPartitionBytes` and
  * `spark.sql.files.openCostInBytes`.
  * Files are opened through the Hadoop FileSystem API, so any scheme
  * the cluster's Hadoop conf resolves (file://, hdfs://, s3a://)
  * works unchanged.
  */
class GraftCorpusSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-corpus"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftCorpusTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new GraftCorpusTable(opts.get("manifest"),
      Option(opts.get("maxfilespertrigger")).map(_.trim.toInt))
  }
}

object GraftCorpusTable {
  /** The corpus schema: (doc_id, text), one row per file line. */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))
}

class GraftCorpusTable(manifest: String,
    maxFilesPerTrigger: Option[Int] = None)
    extends Table with SupportsRead {
  require(manifest != null,
    """graft-corpus requires .option("manifest", <path>)""")
  override def name(): String = s"graft-corpus($manifest)"
  override def schema(): StructType = GraftCorpusTable.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCorpusScanBuilder(manifest, maxFilesPerTrigger)
}

class GraftCorpusScanBuilder(manifest: String,
    maxFilesPerTrigger: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = GraftCorpusTable.schema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** doc_id predicates become FILE pruning: a file carries exactly
    * one doc_id, so evaluating them against manifest entries at
    * planning time is exact — the connector's form of partition
    * pruning (a doc_id-range query over a million-file manifest opens
    * only the matching files). ALL filters are returned for Spark to
    * re-evaluate: pruning is an optimization, never a correctness
    * dependency. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftCorpusScan.prunable)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan =
    new GraftCorpusScan(manifest, required, pushed, maxFilesPerTrigger)
}

object GraftCorpusScan {
  /** Filters this source can evaluate against a manifest entry. A
    * filter carrying a null literal (e.g. `isin(1, null)`) is NOT
    * prunable: `keeps` would NPE casting it, and since every filter is
    * re-applied above the scan anyway, declining to prune is always
    * safe. */
  private[sources] def prunable(f: Filter): Boolean = f match {
    case EqualTo("doc_id", v)            => v != null
    case GreaterThan("doc_id", v)        => v != null
    case GreaterThanOrEqual("doc_id", v) => v != null
    case LessThan("doc_id", v)           => v != null
    case LessThanOrEqual("doc_id", v)    => v != null
    case In("doc_id", vs)                => vs != null && vs.forall(_ != null)
    case IsNotNull("doc_id")             => true
    case _                               => false
  }
  private def asLong(v: Any): Long = v.asInstanceOf[Number].longValue()
  /** Exact evaluation of a prunable filter against one file's id. */
  private[sources] def keeps(id: Long, f: Filter): Boolean = f match {
    case EqualTo("doc_id", v)            => id == asLong(v)
    case GreaterThan("doc_id", v)        => id > asLong(v)
    case GreaterThanOrEqual("doc_id", v) => id >= asLong(v)
    case LessThan("doc_id", v)           => id < asLong(v)
    case LessThanOrEqual("doc_id", v)    => id <= asLong(v)
    case In("doc_id", vs)                => vs.exists(asLong(_) == id)
    case IsNotNull("doc_id")             => true
    case _                               => true
  }

  /** Spark's file-source split-size policy
    * (`FilePartition.maxSplitBytes` in the Spark source): cap at
    * maxPartitionBytes, but when the whole corpus divided across the
    * cluster's cores is smaller, shrink toward openCost so small
    * corpora still fan out to every core instead of one packed task. */
  private[sources] def maxSplitBytes(totalCost: Long, parallelism: Int,
      maxPartitionBytes: Long, openCost: Long): Long =
    // floor of 1: openCost=0 (a valid session setting) with a tiny
    // corpus on a wide cluster yields split=0, and `0L until len by 0`
    // throws
    math.max(1L, math.min(maxPartitionBytes,
      math.max(openCost, totalCost / math.max(1, parallelism))))

  /** Plan (path, doc_id, fileLen) entries into partitions: files
    * larger than the split size break into byte-range chunks
    * (newline-aligned at READ time by the partial-line protocol, so
    * planning never opens a file); smaller files bin-pack greedily in
    * manifest order until a bin reaches the split size, each file
    * costing its length plus openCost (Spark's
    * `FilePartition.getFilePartitions` policy — a million empty files
    * still pay their open cost and spread across tasks). */
  private[graft] def planChunks(entries: Seq[(String, Long, Long)],
      maxPartitionBytes: Long, openCost: Long,
      parallelism: Int): Array[InputPartition] = {
    val totalCost = entries.map(_._3 + openCost).sum
    val split = maxSplitBytes(totalCost, parallelism, maxPartitionBytes, openCost)
    val chunks = entries.flatMap { case (p, id, len) =>
      if (len > split)
        (0L until len by split).map(off =>
          GraftChunk(p, id, off, math.min(split, len - off)))
      else Seq(GraftChunk(p, id, 0L, len))
    }
    val parts = Array.newBuilder[InputPartition]
    var cur = Vector.empty[GraftChunk]
    var size = 0L
    chunks.foreach { c =>
      if (cur.nonEmpty && size + c.length > split) {
        parts += GraftCorpusPartition(cur.toArray); cur = Vector.empty; size = 0L
      }
      cur :+= c
      size += c.length + openCost
    }
    if (cur.nonEmpty) parts += GraftCorpusPartition(cur.toArray)
    parts.result()
  }

  /** The session's spark.sql.files.* split and open-cost sizes and
    * its default parallelism. */
  private[sources] def sizing(): (Long, Long, Int) = {
    val sess = org.apache.spark.sql.SparkSession.active
    (sess.sessionState.conf.filesMaxPartitionBytes,
      sess.sessionState.conf.filesOpenCostInBytes,
      sess.sparkContext.defaultParallelism)
  }

  /** Driver-side file lengths for surviving manifest entries. One
    * getFileStatus RPC per file, issued through a bounded pool: at the
    * 10⁶-file scale the connector plans for, sequential HEAD
    * round-trips (~1–10 ms each against a real namenode/object store)
    * would turn planning into minutes — the same reason Spark's
    * InMemoryFileIndex parallelizes its listing. FS objects are
    * cached per scheme and thread-safe; order is preserved. */
  private[graft] def withLengths(entries: Seq[(String, Long)],
      conf: Configuration): Seq[(String, Long, Long)] = {
    def stat(p: String, id: Long): (String, Long, Long) = {
      val hp = new Path(p)
      (p, id, hp.getFileSystem(conf).getFileStatus(hp).getLen)
    }
    if (entries.size <= 8) entries.map { case (p, id) => stat(p, id) }
    else {
      // daemon threads + shutdownNow: a failed/hung stat must neither
      // leave ~10^6 queued RPCs running to completion in the
      // background nor block JVM exit on a wedged filesystem call
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(32, entries.size),
        (r: Runnable) => {
          val t = new Thread(r, "graft-corpus-stat")
          t.setDaemon(true); t
        })
      try {
        // .toVector forces the submit phase eagerly: if `entries` were
        // a lazy Seq (view/LazyList), map-then-get would interleave
        // submit/get one element at a time, serializing the very RPCs
        // the pool exists to overlap.
        entries.iterator.map { case (p, id) =>
          pool.submit(new java.util.concurrent.Callable[(String, Long, Long)] {
            override def call(): (String, Long, Long) = stat(p, id)
          })
        }.toVector.map(f =>
          try f.get()
          catch { // surface the raw FS error, not the wrapper
            case e: java.util.concurrent.ExecutionException => throw e.getCause
          })
      } finally pool.shutdownNow()
    }
  }
}

class GraftCorpusScan(manifest: String, required: StructType,
    pushed: Array[Filter],
    maxFilesPerTrigger: Option[Int] = None) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-corpus manifest=$manifest ReadSchema=${required.simpleString}" +
      s" PushedFilters=${pushed.mkString("[", ", ", "]")}"
  /** Manifest entries surviving the pushed doc_id predicates, split
    * and bin-packed by [[GraftCorpusScan.planChunks]] — the manifest
    * is tiny and driver-side by contract (its first line bounds it),
    * so this is an O(N-files) driver step, not a data read. */
  override def planInputPartitions(): Array[InputPartition] = {
    val survivors = TextCorpus.manifestEntries(manifest)
      .filter { case (_, id) => pushed.forall(GraftCorpusScan.keeps(id, _)) }
    val (mpb, oc, par) = GraftCorpusScan.sizing()
    GraftCorpusScan.planChunks(
      GraftCorpusScan.withLengths(survivors,
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()),
      mpb, oc, par)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    // The SESSION's Hadoop conf, not a bare `new Configuration()`:
    // spark.hadoop.* settings (s3a credentials, defaultFS, …) must
    // reach the executor-side file open or only file:// would work.
    new GraftCorpusReaderFactory(required.fieldNames,
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()))
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftCorpusMicroBatchStream(manifest, createReaderFactory(),
      maxFilesPerTrigger)
}

/** Offset = how many manifest entries have been processed. The
  * manifest contract (count line + N paths, ids 1-based in manifest
  * order) makes this exact: entries are only ever APPENDED (ids are
  * assigned by position, so rewriting history would re-id existing
  * docs — invalid under the reference contract), so a single
  * monotonically-growing count identifies a batch range precisely and
  * replays identically after restart. */
case class GraftManifestOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** Streaming rung of the connector: a GROWING manifest becomes a
  * micro-batch source — each batch reads the files appended since the
  * last committed count, split/bin-packed like the batch scan, feeding
  * the incremental inverted index (S6) from the reference's own input
  * contract instead of a parquet drop directory.
  *
  * Admission control ([[SupportsAdmissionControl]]): without it, a
  * manifest that grows by 10⁶ files between triggers becomes ONE
  * million-file micro-batch — unbounded latency, checkpoint interval
  * and state growth all coupled to producer burstiness.
  * `.option("maxfilespertrigger", N)` declares a [[ReadMaxFiles]]
  * default read limit; the engine then calls the two-arg
  * `latestOffset(start, limit)` and each batch admits at most N new
  * manifest entries, the rest drain over subsequent triggers (exactly
  * the FileStreamSource pattern). */
class GraftCorpusMicroBatchStream(manifest: String,
    factory: PartitionReaderFactory, maxFilesPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsAdmissionControl {
  /** Last successfully-observed manifest size. latestOffset() runs on
    * every trigger against a file a producer may be rewriting in
    * place; a torn snapshot (unparseable count line, vanished file)
    * must stall the stream at the previous offset, not kill the
    * query — the next trigger sees the completed write. */
  @volatile protected var lastKnown: Long = 0L
  @volatile private var observedOnce = false
  private def observeManifest(): Long = {
    // Tolerant read (clamp to the visible prefix) — this is offset
    // DISCOVERY; the monotone floor below carries torn snapshots.
    val n = try {
      val k = TextCorpus.manifestEntries(manifest, strict = false).size.toLong
      observedOnce = true
      k
    } catch {
      case scala.util.control.NonFatal(e) =>
        // Swallowing only makes sense for TRANSIENT races against a
        // rewriter, which presuppose a manifest we have read before.
        // A first-observation failure is a misconfigured path or
        // permission — surface it instead of stalling forever at 0.
        if (!observedOnce) throw e
        System.err.println(
          s"[graft-corpus] transient manifest read failure, holding " +
            s"offset $lastKnown: $e")
        lastKnown
    }
    // Monotone: a torn read that surfaces a shorter prefix must not
    // rewind the offset (ids are positional; history never shrinks).
    lastKnown = math.max(lastKnown, n)
    lastKnown
  }
  override def initialOffset(): Offset = GraftManifestOffset(0L)
  override def latestOffset(): Offset = GraftManifestOffset(observeManifest())
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val avail = observeManifest()
    val from = start.asInstanceOf[GraftManifestOffset].n
    val capped = limit match {
      case mf: ReadMaxFiles => math.min(avail, from + mf.maxFiles())
      case _                => avail
    }
    GraftManifestOffset(capped)
  }
  /** True head of the stream for progress reporting, independent of
    * the admission cap. */
  override def reportLatestOffset(): Offset = GraftManifestOffset(lastKnown)
  override def deserializeOffset(json: String): Offset =
    GraftManifestOffset(json.trim.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GraftManifestOffset].n
    val hi = end.asInstanceOf[GraftManifestOffset].n
    // TOLERANT read plus a committed-range guard: the guard alone is
    // what prevents data loss (a snapshot shorter than the committed
    // hi must fail — clamping past it would read a subset while the
    // checkpoint advances, silently losing files). A strict read here
    // would be WORSE, not safer: a count line ahead of the visible
    // paths (the benign mid-rewrite race) would kill the whole query
    // even when every committed entry is visible, and a failed trigger
    // terminates the stream — there is no per-trigger retry to lean on.
    val all = TextCorpus.manifestEntries(manifest, strict = false)
    if (all.size < hi)
      throw new IllegalStateException(
        s"manifest $manifest shows ${all.size} entries but offset $hi " +
          "is committed — torn snapshot or rewritten history; restart " +
          "the query once the manifest is complete")
    val batch = all.filter { case (_, id) => id > lo && id <= hi }
    // Same split/bin-pack policy as the batch scan: a batch of a
    // million tiny appended files packs into bounded partitions, one
    // huge appended file splits across the cluster.
    val (mpb, oc, par) = GraftCorpusScan.sizing()
    GraftCorpusScan.planChunks(
      GraftCorpusScan.withLengths(batch,
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()),
      mpb, oc, par)
  }
  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One unit of read work: a byte range [start, start+length) of one
  * corpus file. `length` is always exact — planChunks stats every
  * file (there is no "to EOF" sentinel; an unprobed length would also
  * interact subtly with the skip-first-line ownership rule). */
case class GraftChunk(path: String, docId: Long, start: Long, length: Long)

/** A scheduled partition: one or more chunks read sequentially by one
  * task (several bin-packed small files, or one byte-range of a large
  * file). */
case class GraftCorpusPartition(chunks: Array[GraftChunk]) extends InputPartition

class GraftCorpusReaderFactory(fields: Array[String],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftCorpusReader(partition.asInstanceOf[GraftCorpusPartition], fields,
      conf.value)
}

/** Byte-accurate line reader over one chunk, implementing the
  * file-source split protocol (Hadoop's LineRecordReader contract): a
  * split owns every line that STARTS at a byte position in
  * (start, start+length] — so a split with start > 0 discards the
  * first (possibly partial) line, and every split keeps reading
  * through its end boundary until the current line completes. Two
  * adjacent splits therefore assign every line to exactly one owner,
  * and no split ever needs to see its neighbor. Byte positions (not
  * chars) are tracked, so multi-byte UTF-8 never desynchronizes the
  * boundary math. */
private[graft] final class ChunkLineReader(chunk: GraftChunk,
    conf: Configuration) {
  private val p = new Path(chunk.path)
  private val in = p.getFileSystem(conf).open(p)
  if (chunk.start > 0) in.seek(chunk.start)
  private var pos = chunk.start
  private val end = chunk.start + chunk.length
  // Block-buffered scan (the Hadoop LineReader shape): refill a 128 KB
  // buffer and memchr for '\n' — NOT one synchronized read() call plus
  // a ByteArrayOutputStream write per BYTE, which would be the hot
  // loop of the whole corpus scan. Lines spanning a refill (rare)
  // merge via one extra copy.
  private val buf = new Array[Byte](128 * 1024)
  private var bufLen = 0
  private var bufPos = 0
  private var eof = false
  private def fill(): Boolean = {
    if (eof) return false
    bufLen = in.read(buf, 0, buf.length)
    bufPos = 0
    if (bufLen <= 0) { eof = true; false } else true
  }
  if (chunk.start > 0) readLine() // skip the partial first line
  /** Bytes of the next owned line (terminator stripped), null when
    * the chunk is exhausted. */
  def nextLine(): Array[Byte] = if (pos > end) null else readLine()
  private def readLine(): Array[Byte] = {
    if (bufPos >= bufLen && !fill()) return null
    var line: Array[Byte] = null
    var done = false
    while (!done) {
      var i = bufPos
      while (i < bufLen && buf(i) != '\n') i += 1
      val found = i < bufLen
      val n = i - bufPos
      if (line == null) line = java.util.Arrays.copyOfRange(buf, bufPos, i)
      else {
        val prev = line.length
        line = java.util.Arrays.copyOf(line, prev + n)
        System.arraycopy(buf, bufPos, line, prev, n)
      }
      // position BEFORE stripping \r: pos counts raw file bytes
      pos += n + (if (found) 1 else 0)
      bufPos = i + 1 // past the '\n' (ignored when !found — refilled)
      if (found) done = true
      else if (!fill()) done = true // EOF terminates the last line
    }
    if (line.nonEmpty && line(line.length - 1) == '\r')
      java.util.Arrays.copyOf(line, line.length - 1)
    else line
  }
  def close(): Unit = in.close()
}

/** Streams a partition's chunks as (doc_id, text) rows; only the
  * pruned fields are materialized (a doc_id-only scan never converts
  * line bytes into Spark strings). */
class GraftCorpusReader(part: GraftCorpusPartition, fields: Array[String],
    conf: Configuration) extends PartitionReader[InternalRow] {
  private var idx = 0
  private var cur: ChunkLineReader = null
  private var docId: Long = 0L
  private var line: Array[Byte] = _
  // Field extractors resolved ONCE — get() runs per line of a 100 TB
  // corpus and must not re-match field names or allocate closures.
  private val extract: Array[() => Any] = fields.map {
    case "doc_id" => () => docId
    case "text"   => () => UTF8String.fromBytes(line)
  }
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (idx >= part.chunks.length) return false
        cur = new ChunkLineReader(part.chunks(idx), conf)
        docId = part.chunks(idx).docId
        idx += 1
      }
      line = cur.nextLine()
      if (line != null) return true
      cur.close(); cur = null
    }
    false // unreachable
  }
  override def get(): InternalRow = {
    val values = new Array[Any](extract.length)
    var i = 0
    while (i < values.length) { values(i) = extract(i)(); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
  }
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}
