package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, work: String, expected: String, spec: String = "",
                      record: String = "", spans: String = "")

object Opts {
  def parse(args: Seq[String]): Opts = {
    val kv = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("expected"), need("spec"),
      need("record"), need("spans"))
  }
}

/** The benchmark's SparkSession: the settings `graft.Bench` times the
  * query suite under, except that scratch space lives in the run's work
  * directory (the benchmark writes nothing outside its checkout). */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors

  def start(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores, 2]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", (256L << 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** JVM-level counters read around the timed part. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos(): Long = os.getProcessCpuTime
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def uptimeSeconds(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  /** Nearest-rank percentile of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Order-independent content fingerprint of a query result: the row count
  * and the wrapping sum of a 64-bit hash per row. Doubles are rounded to
  * 9 significant digits and floats to 6 first, so aggregation order (which
  * shuffle fetch order may change) cannot flip a fingerprint. */
object RowHash {
  type Field = (SpecializedGetters, Int) => Long
  private val NullHash = 0x5bd1e9955bd1e995L

  private def bytes(b: Array[Byte], seed: Long): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  private def rounded(d: Double, digits: Int): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0 || d.isInfinite) java.lang.Double.doubleToLongBits(d + 0.0)
    else java.lang.Double.doubleToLongBits(
      new java.math.BigDecimal(d).round(new java.math.MathContext(digits)).doubleValue)

  private def field(dt: DataType): Field = dt match {
    case BooleanType => (g, i) => if (g.getBoolean(i)) 1L else 2L
    case ByteType => (g, i) => g.getByte(i).toLong
    case ShortType => (g, i) => g.getShort(i).toLong
    case IntegerType | DateType => (g, i) => g.getInt(i).toLong
    case LongType | TimestampType | TimestampNTZType => (g, i) => g.getLong(i)
    case FloatType => (g, i) => rounded(g.getFloat(i).toDouble, 6)
    case DoubleType => (g, i) => rounded(g.getDouble(i), 9)
    case _: StringType => (g, i) => bytes(g.getUTF8String(i).getBytes, 1)
    case BinaryType => (g, i) => bytes(g.getBinary(i), 2)
    case d: DecimalType => (g, i) => bytes(g.getDecimal(i, d.precision, d.scale)
      .toJavaBigDecimal.stripTrailingZeros.toPlainString.getBytes("UTF-8"), 3)
    case ArrayType(et, _) =>
      val f = nullable(field(et))
      (g, i) => {
        val a = g.getArray(i)
        var h = 7L
        var j = 0
        while (j < a.numElements()) { h = XXH64.hashLong(f(a, j), h); j += 1 }
        h
      }
    case st: StructType =>
      val r = row(st)
      (g, i) => r(g.getStruct(i, st.length))
    case MapType(kt, vt, _) =>
      val fk = nullable(field(kt)); val fv = nullable(field(vt))
      (g, i) => {
        val m = g.getMap(i)
        val (ks, vs) = (m.keyArray(), m.valueArray())
        var h = 11L
        var j = 0
        while (j < m.numElements()) { h += XXH64.hashLong(fv(vs, j), fk(ks, j)); j += 1 }
        h
      }
    case other => (g, i) => bytes(String.valueOf(g.get(i, other)).getBytes("UTF-8"), 4)
  }

  private def nullable(f: Field): Field = (g, i) => if (g.isNullAt(i)) NullHash else f(g, i)

  /** Hash of one row of `schema`; field order matters, row order does not. */
  def row(schema: StructType): InternalRow => Long = {
    val fs = schema.fields.map(f => nullable(field(f.dataType)))
    r => {
      var h = 17L
      var i = 0
      while (i < fs.length) { h = XXH64.hashLong(fs(i)(r, i), h); i += 1 }
      h
    }
  }
}

/** Result of executing one DataFrame plan to completion. */
final case class Fingerprint(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

/** Totals over every task and job since the listener was attached; the
  * benchmark reads deltas around each operation. */
final class Counters extends SparkListener {
  val jobs, tasks, taskFailures, execCpuNs, shuffleWriteBytes, spillBytes = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) taskFailures.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      execCpuNs.addAndGet(m.executorCpuTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }
  def snapshot(spark: SparkSession): Array[Long] = {
    org.apache.spark.sql.graft.shim.drainListenerBus(spark)
    Array(jobs, tasks, taskFailures, execCpuNs, shuffleWriteBytes, spillBytes).map(_.get)
  }
}

object Counters {
  val Names: Seq[String] =
    Seq("jobs", "tasks", "task_failures", "exec_cpu_ns", "shuffle_bytes", "spill_bytes")
  def attach(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    c
  }
  def delta(a: Array[Long], b: Array[Long]): Map[String, Long] =
    Names.zip(b.zip(a).map { case (y, x) => y - x }).toMap
}

/** Join strategies in a query's final (post-AQE) physical plan, subqueries
  * included: (broadcast joins, shuffle joins). */
object PlanJoins extends AdaptiveSparkPlanHelper {
  def count(plan: SparkPlan): (Int, Int) = {
    val kinds = collectWithSubqueries(plan) {
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
      case _: SortMergeJoinExec | _: ShuffledHashJoinExec | _: CartesianProductExec => false
    }
    (kinds.count(identity), kinds.count(!_))
  }
}

/** One traced interval. `parent` is the id of the enclosing span, -1 at the
  * root; every span of a run carries the run's id. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                      attrs: Map[String, Any]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, written out as JSONL once the run ends. */
final class Tracer(val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): (T, Span) = {
    val id = next
    next += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try {
      val out = body
      val s = Span(id, name, parent, t0, System.nanoTime(), attrs)
      spans += s
      (out, s)
    } finally open = open.tail
  }

  def record(name: String, attrs: Map[String, Any]): Unit = {
    val now = System.nanoTime()
    spans += Span(next, name, open.headOption.getOrElse(-1), now, now, attrs)
    next += 1
  }

  def writeJsonl(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try spans.sortBy(_.id).foreach { s =>
      val n = Json.mapper.createObjectNode()
      n.put("run_id", runId).put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("start_ns", s.startNs).put("end_ns", s.endNs)
      Json.putAll(n.putObject("attrs"), s.attrs)
      w.write(Json.mapper.writeValueAsString(n))
      w.newLine()
    } finally w.close()
  }
}

object Json {
  val mapper = new ObjectMapper()

  def putAll(n: ObjectNode, m: Map[String, Any]): ObjectNode = {
    m.foreach {
      case (k, v: Double) => n.put(k, v)
      case (k, v: Long) => n.put(k, v)
      case (k, v: Int) => n.put(k, v)
      case (k, v: Boolean) => n.put(k, v)
      case (k, v: Seq[_]) => val a = n.putArray(k); v.foreach(x => a.add(String.valueOf(x)))
      case (k, v) => n.put(k, String.valueOf(v))
    }
    n
  }
}
