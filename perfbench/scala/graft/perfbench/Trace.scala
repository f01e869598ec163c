package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job-group totals of the Spark task metrics a span is charged. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var taskS = 0.0
  var gcS = 0.0
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  val taskDurations = mutable.ArrayBuffer.empty[Double]

  def skew: Double =
    if (taskDurations.isEmpty) 0.0
    else {
      val s = taskDurations.sorted
      val med = s(s.size / 2)
      if (med <= 0) 0.0 else s.last / med
    }
}

/** The three listeners of a traced run, registered by the benchmark
  * (never by the program). Task metrics are attributed to the job
  * group the benchmark set around each public call; the listener bus
  * is asynchronous, so readers call [[drain]] first. */
final class Trace(spark: SparkSession) {
  private val groupOfStage = mutable.Map.empty[Int, String]
  val groups = mutable.LinkedHashMap.empty[String, GroupStats]
  /** Observed metrics (`Dataset.observe`) by name, last value seen. */
  val observed = mutable.LinkedHashMap.empty[String, Map[String, Long]]
  var streamBatches = 0L
  var streamStateBytes = 0L
  @volatile private var started = 0L
  @volatile private var ended = 0L
  @volatile private var events = 0L

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)
  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")

  val tasks: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      started += 1; events += 1
      val g = groupOf(e.properties)
      stats(g).jobs += 1
      e.stageIds.foreach(groupOfStage(_) = g)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      ended += 1; events += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      events += 1
      groupOfStage(e.stageInfo.stageId) = groupOf(e.properties)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      events += 1
      val m = e.taskMetrics
      if (m != null) {
        val s = stats(groupOfStage.getOrElse(e.stageId, "(none)"))
        val run = m.executorRunTime / 1000.0
        s.tasks += 1
        s.taskS += run
        s.taskDurations += run
        s.gcS += m.jvmGCTime / 1000.0
        s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        events += 1
        qe.observedMetrics.foreach { case (name, row) =>
          observed(name) = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
            f -> (row.get(i) match {
              case n: java.lang.Number => n.longValue
              case _ => 0L
            })
          }.toMap
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        events += 1
        val p = e.progress
        if (p.numInputRows > 0) streamBatches += 1
        streamStateBytes = math.max(streamStateBytes,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  /** Wait until every started job's end event has been delivered and
    * no event arrived for a short quiet period (bounded wait). */
  def drain(): Unit = {
    val deadline = System.nanoTime + 20L * 1000 * 1000 * 1000
    var last = -1L
    while (System.nanoTime < deadline && (started != ended || events != last)) {
      last = events
      Thread.sleep(150)
    }
  }

  def group(g: String): GroupStats = synchronized(groups.getOrElse(g, new GroupStats))
}

/** Minimal JSON rendering for the result file the Python side reads. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
