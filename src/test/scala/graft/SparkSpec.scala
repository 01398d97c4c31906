package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.shim
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs: the entry points' own
  * settings ([[GraftSession]]) at 4 cores, one JVM-wide session that Spark
  * reuses across suites via getOrCreate. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.start("graft-test", cores = 4)

  /** Smallest fixture dir — tests should be fast; correctness vs DuckDB is
    * the driver's job at sf0.01. */
  val sfDir = "/root/testdata/sf0.001"

  /** Name -> bytes of every file in one date partition of a lake. */
  def partitionBytes(lake: String, ds: String): Map[String, Seq[Byte]] =
    new java.io.File(s"$lake/day_of_data=$ds").listFiles().map(f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap

  /** Jobs and SQL executions `body` starts, counted by a listener with the
    * bus drained before and after. */
  def jobsAndExecutions(body: => Unit): (Int, Int) = {
    val (jobs, executions, _) = jobsExecutionsAndTasks(body)
    (jobs, executions)
  }

  /** [[jobsAndExecutions]] and the tasks `body` starts. */
  def jobsExecutionsAndTasks(body: => Unit): (Int, Int, Int) = {
    val jobs, executions, tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskStart(e: SparkListenerTaskStart): Unit = { tasks.incrementAndGet(); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet(); ()
        case _ => ()
      }
    }
    shim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; shim.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, executions.get, tasks.get)
  }

  /** Staging directories a staged partition replace left under a lake. */
  def stagingEntries(lake: String): Seq[String] =
    new java.io.File(lake).list().filter(_.startsWith(".staging-")).toSeq

  /** All parquet scans of a plan, descending through every adaptive
    * wrapper (AQE root, materialized query stages, reused exchanges) —
    * collectLeaves alone stops at AdaptiveSparkPlanExec and silently
    * returns nothing for plans containing exchanges. */
  def fileScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        walk(r.child)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}
