package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkEntry
import graft.sources.Tables
import graft.streaming.Streams

/** Which query module (`graft.queries.<M>`) defines each `SparkEntry`
  * query, found by reflection on the modules' `qNNN...(SparkSession,
  * String): DataFrame` methods and matched on the query number. */
object QueryModules {
  val Relational = Seq("CoreQueries", "DateTimeQueries", "SqlQueries")
  val Corpus = Seq("TextQueries", "SimilarityQueries", "WebQueries", "MediaQueries")

  def number(name: String): Int = name.drop(1).takeWhile(_.isDigit).toInt

  lazy val moduleOf: Map[String, String] = {
    val byNumber = (Relational ++ Corpus).flatMap { m =>
      Class.forName(s"graft.queries.$m$$").getMethods.toSeq
        .filter(x => x.getName.matches("q\\d+[A-Z].*") && x.getParameterCount == 2 &&
          x.getParameterTypes()(0) == classOf[SparkSession] &&
          x.getReturnType == classOf[DataFrame])
        .map(x => number(x.getName) -> m)
    }.distinct.groupBy(_._1)
    SparkEntry.queries.keys.map { q =>
      val ms = byNumber.getOrElse(number(q), Nil).map(_._2)
      require(ms.length == 1, s"$q maps to query modules ${ms.mkString("[", ",", "]")}")
      q -> ms.head
    }.toMap
  }

  /** Every `stride`-th query of each module, by query number. */
  def sample(modules: Seq[String], stride: Int): Seq[String] =
    modules.flatMap { m =>
      moduleOf.collect { case (q, `m`) => q }.toSeq.sortBy(number).zipWithIndex
        .collect { case (q, i) if i % stride == 0 => q }
    }
}

/** Expected query outputs, recorded by `Main record` on the generated
  * inputs: row count and fingerprint per query; a query whose content
  * differed between two recording passes is checked on row count only. */
final case class Expected(rows: Map[String, Long], hashes: Map[String, String]) {
  def check(name: String, fp: Fingerprint): Option[String] =
    rows.get(name) match {
      case None => Some("no expected output recorded")
      case Some(n) if n != fp.rows => Some(s"rows ${fp.rows} != expected $n")
      case _ => hashes.get(name).filter(_ != fp.hex).map(h => s"fingerprint ${fp.hex} != expected $h")
    }
}

object Expected {
  def load(path: String): Expected = {
    val root = Json.mapper.readTree(new java.io.File(path))
    val rows = mutable.Map.empty[String, Long]
    val hashes = mutable.Map.empty[String, String]
    root.get("outputs").fields().forEachRemaining { e =>
      rows(e.getKey) = e.getValue.get("rows").asLong()
      val h = e.getValue.get("hash")
      if (h != null && !h.isNull) hashes(e.getKey) = h.asText()
    }
    Expected(rows.toMap, hashes.toMap)
  }
}

/** `relational` and `corpus`: a pass over a fixed per-module sample of
  * `SparkEntry.queries` in seed-shuffled order, every plan executed in full
  * and fingerprinted. `corpus` ends its pass by replaying `documents`
  * through `Streams.streamingNearDupHits` in fixed micro-batches. */
final class QueryWorkload(opts: Opts, modules: Seq[String], stride: Int,
                          coldQuery: String, withStream: Boolean) extends Workload {
  private lazy val expected = Expected.load(opts.expected)
  private val order: Seq[String] =
    new scala.util.Random(opts.seed).shuffle(QueryModules.sample(modules, stride))
  private val results = mutable.LinkedHashMap.empty[String, Fingerprint]
  private var streamRuns = 0

  def describe: Map[String, Any] = Map("order" -> order, "cold_query" -> coldQuery)

  def setUp(spark: SparkSession): Unit =
    Tables.names.foreach(t => Tables.load(spark, opts.data, t).schema)

  def tearDown(): Unit = ()

  private def run(spark: SparkSession, q: String): DataFrame = {
    val df = SparkEntry.queries(q)(spark, opts.data)
    results(q) = Exec.fingerprint(df)
    df
  }

  def firstOp(spark: SparkSession): Unit = {
    run(spark, coldQuery)
    Exec.release(spark)
  }

  def timed(spark: SparkSession, rec: Recorder): Unit = {
    order.foreach { q =>
      rec.op(q) { run(spark, q) }
      Exec.release(spark)
    }
    if (withStream) rec.op(StreamOp) { results(StreamOp) = streamReplay(spark) }
  }

  def check(spark: SparkSession, rec: Recorder): Unit =
    results.foreach { case (q, fp) => expected.check(q, fp).foreach(rec.fail(q, _)) }

  /** Replay `documents` in doc_id order through the streaming near-dup
    * operator, 100 documents per micro-batch; fingerprint the hits. */
  def streamReplay(spark: SparkSession): Fingerprint = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val docs = Tables.documents(spark, opts.data).select(col("doc_id"), col("text"))
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    streamRuns += 1
    val name = s"near_dup_hits_$streamRuns"
    val ms = MemoryStream[(Long, String)]
    val q = Streams.streamingNearDupHits(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append)
      .option("checkpointLocation", s"${opts.work}/checkpoints/$name").start()
    try docs.grouped(StreamBatch).foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    q.exception.foreach(throw _)
    Exec.fingerprint(spark.table(name).select("doc_id", "bkey", "canonical_id"))
  }

  def traced(spark: SparkSession, tracer: Tracer, out: LayerOut): Unit = {
    val counters = Counters.attach(spark)
    val plain, traced, plainCpu, tracedCpu = mutable.ArrayBuffer.empty[Double]
    val perModule = mutable.Map.empty[String, Map[String, Double]].withDefaultValue(Map.empty)
    order.zipWithIndex.foreach { case (q, i) =>
      val m = QueryModules.moduleOf(q)
      def untracedRun(): Unit = {
        val cpu0 = Jvm.cpuNanos()
        val t0 = System.nanoTime()
        out.rec.op(q) { run(spark, q) }
        plain += (System.nanoTime() - t0) / 1e9
        plainCpu += (Jvm.cpuNanos() - cpu0) / 1e9
        Exec.release(spark)
      }
      def tracedRun(): Unit = try {
        val cpu0 = Jvm.cpuNanos()
        val c0 = counters.snapshot(spark)
        val (df, span) = tracer.span(s"queries.$m.$q") { run(spark, q) }
        val d = Counters.delta(c0, counters.snapshot(spark))
        val (bj, sj) = PlanJoins.count(df.queryExecution.executedPlan)
        traced += span.seconds
        tracedCpu += (Jvm.cpuNanos() - cpu0) / 1e9
        val row = Map("s" -> span.seconds, "exec_cpu_s" -> d("exec_cpu_ns") / 1e9,
          "shuffle_mb" -> d("shuffle_bytes") / 1048576.0, "spill_mb" -> d("spill_bytes") / 1048576.0,
          "jobs" -> d("jobs").toDouble, "task_failures" -> d("task_failures").toDouble,
          "broadcast_joins" -> bj.toDouble, "shuffle_joins" -> sj.toDouble)
        tracer.record("query", row ++ Map("query" -> q, "module" -> m, "tasks" -> d("tasks"),
          "rows" -> results(q).rows))
        perModule(m) = row.map { case (k, v) => k -> (perModule(m).getOrElse(k, 0.0) + v) }
        Exec.release(spark)
      } catch { case NonFatal(e) => out.rec.fail(q, s"traced: $e") }
      // alternate which of the pair runs first, so warm-up favours neither
      val fps = (if (i % 2 == 0) Seq(untracedRun _, tracedRun _) else Seq(tracedRun _, untracedRun _))
        .flatMap { r => r(); results.get(q) }
      if (fps.distinct.length > 1) out.fail(s"$q: traced and untraced outputs differ")
    }
    perModule.foreach { case (m, row) => row.foreach { case (k, v) =>
      out.put(s"queries.$m.$k", QueryWorkload.LayerUnits(k), v) } }
    if (withStream) {
      out.rec.op(StreamOp) { results(StreamOp) = streamReplay(spark) }
      val (fp, span) = tracer.span("streaming.Streams.streamingNearDupHits") { streamReplay(spark) }
      if (results.get(StreamOp).exists(_ != fp)) out.fail("traced stream hits differ")
      out.put("streaming.Streams.streamingNearDupHits.s", "s", span.seconds)
      out.put("streaming.Streams.streamingNearDupHits.rows_per_s", "rows/s",
        Tables.documents(spark, opts.data).count() / span.seconds)
      NativeFunctions.measure(spark, opts.data, tracer, out)
    }
    out.overhead("pass_s", traced.sum - plain.sum)
    out.overhead("cpu_s", tracedCpu.sum - plainCpu.sum)
  }

  private val StreamOp = "stream_near_dup_hits"
  private val StreamBatch = 100
}

object QueryWorkload {
  val LayerUnits: Map[String, String] = Map("s" -> "s", "exec_cpu_s" -> "cpu-s",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "jobs" -> "jobs", "task_failures" -> "tasks",
    "broadcast_joins" -> "joins", "shuffle_joins" -> "joins")
}
