package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload, driven from a single client thread (closed
  * loop: the next operation starts when the previous one has returned). */
trait Workload {
  /** Seed-derived choices, written into the run record. */
  def describe: Map[String, Any]
  /** Make the inputs readable in a fresh session (timed as set-up). */
  def setUp(spark: SparkSession): Unit
  def tearDown(): Unit
  /** The fixed first operation, run in the cold JVM. */
  def firstOp(spark: SparkSession): Unit
  /** The timed part. */
  def timed(spark: SparkSession, rec: Recorder): Unit
  /** Untimed output checks over everything the run produced. */
  def check(spark: SparkSession, rec: Recorder): Unit
  /** The separate traced run: fills the per-layer metrics. */
  def traced(spark: SparkSession, tracer: Tracer, out: LayerOut): Unit
}

/** Per-operation latencies and failures of one run. */
final class Recorder {
  val latencies = mutable.ArrayBuffer.empty[(String, Double)]
  val failures = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0

  /** Time `body` as one operation; false if it threw. */
  def op(name: String)(body: => Unit): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      latencies += ((name, (System.nanoTime() - t0) / 1e9))
      true
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        fail(name, e.toString)
        false
    }
  }

  def fail(name: String, why: String): Unit = {
    System.err.println(s"[perfbench] FAILED $name: $why")
    failures.getOrElseUpdate(name, why)
  }
}

/** Per-layer metrics of a traced run, plus its checks. */
final class LayerOut(val rec: Recorder) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, unit: String, value: Double): Unit = metrics(name) = (value, unit)
  /** Traced minus untraced, for end-to-end metric `e2e`. */
  def overhead(e2e: String, value: Double): Unit =
    put(s"trace.overhead.$e2e", if (e2e == "cpu_s") "cpu-s" else "s", value)
  def fail(why: String): Unit = rec.fail("trace", why)
}

object Exec {
  /** Execute `df`'s full physical plan (every output column materialized,
    * as `graft.Bench` times it) and fingerprint what it produced. */
  def fingerprint(df: DataFrame): Fingerprint = {
    val h = RowHash.row(df.schema)
    val (n, s) = df.queryExecution.toRdd.mapPartitions { it =>
      var c = 0L
      var x = 0L
      it.foreach { r => c += 1; x += h(r) }
      Iterator((c, x))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    Fingerprint(n, s)
  }

  /** Release what a query left cached, as `graft.Bench` does between
    * queries (untimed). */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
