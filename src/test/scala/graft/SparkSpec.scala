package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; `lazy val`
  * in a trait resolves to the same underlying SparkSession). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session(cores = 8)
  val sf  = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  /** Flatten an executed plan through the adaptive wrappers
    * (AdaptiveSparkPlanExec / QueryStageExec / ReusedExchangeExec) —
    * the shared walker every plan-posture assertion uses, so a
    * Spark-version change to adaptive node shapes is fixed ONCE. */
  def flattenPlan(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case other                    => other.children
    }
    p +: kids.flatMap(flattenPlan)
  }

  /** True only for the scale-adaptive scan spread's exchange
    * ([[Tables.spread]]): an explicit-count repartition whose child is
    * a file scan — reached through the row conversion, codegen
    * wrappers and the pruning Project/Filter the optimizer pushes
    * below it, never through another exchange, aggregate or join.
    * Plan-shape gates exempt exactly this shape, not every
    * REPARTITION_BY_NUM exchange. */
  def isScanSpread(p: SparkPlan): Boolean = {
    def onScan(c: SparkPlan): Boolean = c match {
      case _: FileSourceScanExec    => true
      case w: WholeStageCodegenExec => onScan(w.child)
      case i: InputAdapter          => onScan(i.child)
      case r: ColumnarToRowExec     => onScan(r.child)
      case pr: ProjectExec          => onScan(pr.child)
      case f: FilterExec            => onScan(f.child)
      case _                        => false
    }
    p match {
      case s: ShuffleExchangeExec =>
        s.shuffleOrigin == REPARTITION_BY_NUM && onScan(s.child)
      case _ => false
    }
  }

  /** Run `body` and return the Spark jobs it started and the query
    * executions it finished (batch actions and stream micro-batches).
    * Listener events arrive asynchronously but in order, so a marker
    * query run after `body` bounds the wait: once the marker's job and
    * execution are seen, everything `body` posted has been too. */
  def listened(body: => Unit): (Int, Seq[org.apache.spark.sql.execution.QueryExecution]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val marker = s"listened_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = qes.add(qe)
    }
    def isMarker(qe: QueryExecution) = qe.analyzed.output.exists(_.name == marker)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      body
      spark.sparkContext.setJobGroup(marker, marker)
      try spark.range(1).select(org.apache.spark.sql.functions.lit(1).as(marker)).collect()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!(jobs.contains(marker) && qes.stream.anyMatch(isMarker(_))) &&
          System.nanoTime < deadline) Thread.sleep(20)
      assert(jobs.contains(marker), "marker job never reached the listener")
      import scala.jdk.CollectionConverters._
      (jobs.asScala.takeWhile(_ != marker).size, qes.asScala.takeWhile(!isMarker(_)).toSeq)
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Scope session confs to a block, restoring (or unsetting) after —
    * shared by the plan-posture specs that lower AQE/bloom
    * thresholds for fixture-scale data. */
  def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
