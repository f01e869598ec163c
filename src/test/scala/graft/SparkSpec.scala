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
