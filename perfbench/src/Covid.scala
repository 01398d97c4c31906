package graft.perfbench

import java.net.InetSocketAddress
import java.time.LocalDate
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.ops.{CovidOps, Dims, Mart}
import graft.pipeline.{CovidFixture, CovidPipeline}
import graft.quality.Quality
import graft.sources.{FixturePayloadProvider, Sinks}

/** The covid report API on 127.0.0.1: serves the `FixturePayloadProvider`
  * envelope for each `?date=&iso=` request and counts requests. */
final class LoopbackApi {
  val requests = new AtomicLong
  private val fixture = new FixturePayloadProvider
  private val pool = Executors.newFixedThreadPool(4)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/reports", (ex: HttpExchange) => {
    requests.incrementAndGet()
    val q = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .flatMap(_.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }).toMap
    val ci = CovidFixture.isoCountries.indexWhere(_._1 == q.getOrElse("iso", ""))
    val (code, body) =
      if (ci < 0 || !q.contains("date")) (404, "unknown report")
      else (200, fixture.fetch(q("date"), q("iso"), CovidFixture.isoCountries(ci)._2, ci, 48))
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  })
  server.setExecutor(pool)
  server.start()

  val url = s"http://127.0.0.1:${server.getAddress.getPort}/reports"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** `covid_backfill`: Airflow-catchup style, one `CovidPipeline.runRange(ds,
  * ds)` per consecutive date, the stage read through `CovidReportSource`
  * with the production `HttpCovidProvider` against [[LoopbackApi]], facts
  * landing through `Sinks.overwriteDatePartition` into a fresh lake. */
final class CovidBackfill(opts: Opts) extends Workload {
  import CovidBackfill._
  private var api: LoopbackApi = _
  private val lake = s"${opts.work}/lake"
  private val start = LocalDate.of(2020, 1, 22).plusDays(java.lang.Math.floorMod(opts.seed, 1000L))
  // ~0.7 s per date early in a JVM on a 4-core host: the timed part lasts
  // about --seconds. The traced run leaves the first fifth out of its medians.
  private val days = math.max(5, math.round(opts.seconds / 0.7).toInt)
  private val warmup = days / 5
  private val dates = (0 to days).map(i => start.plusDays(i).toString)

  def describe: Map[String, Any] = Map("start_date" -> dates.head, "dates" -> dates.length,
    "warmup_dates" -> warmup)

  def setUp(spark: SparkSession): Unit = {
    if (api != null) api.stop()
    api = new LoopbackApi
    // readable = one report fetched through the production path
    stageFor(spark)(dates.head).filter(col("iso_country") === "CHN").select("json_data").collect()
    deleteRecursively(new java.io.File(lake))
  }

  def tearDown(): Unit = if (api != null) api.stop()

  private def stageFor(spark: SparkSession)(ds: String): DataFrame =
    spark.read.format("graft.sources.CovidReportSource")
      .option("date", ds)
      .option("payloadProvider", "graft.sources.HttpCovidProvider")
      .option("provider.url", api.url)
      .load()

  private def land(spark: SparkSession, ds: String): Unit =
    CovidPipeline.runRange(spark, ds, ds, lake, stageFor(spark))

  def firstOp(spark: SparkSession): Unit = land(spark, dates.head)

  def timed(spark: SparkSession, rec: Recorder): Unit =
    dates.tail.foreach(ds => rec.op(ds) { land(spark, ds) })

  /** Per-date 240 rows, no NULL region_key, no FK orphans, lake total =
    * dates x 240, and an idempotent re-run of the first date. */
  def check(spark: SparkSession, rec: Recorder): Unit = {
    val counts = partitionCounts(spark)
    dates.foreach { ds =>
      if (!counts.get(ds).contains(RowsPerDay)) rec.fail(ds, s"rows=${counts.get(ds)}")
    }
    val fact = spark.read.parquet(lake)
    val nullKeys = fact.filter(col("region_key").isNull).count()
    if (nullKeys != 0) rec.fail("lake", s"$nullKeys NULL region_key")
    val dim = Dims.regionDim(CovidOps.flatten(stageFor(spark)(dates.head), dates.head))
    val orphans = Mart.fkOrphans(fact, dim, "region_key").count()
    if (orphans != 0) rec.fail("lake", s"$orphans FK orphans")
    if (counts.values.sum != dates.length.toLong * RowsPerDay)
      rec.fail("lake", s"total=${counts.values.sum}")
    land(spark, dates.head)
    if (partitionCounts(spark) != counts) rec.fail("lake", "re-run changed partition counts")
  }

  private def partitionCounts(spark: SparkSession): Map[String, Long] =
    spark.read.parquet(lake).groupBy(col("day_of_data").cast("string")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Traced run. Even dates go through `runRange` untouched and give the
    * pipeline-level counts; odd dates recompose the same public calls with
    * a span and a materialization around each layer. Nothing is cached, so
    * each materialization recomputes its inputs; a layer's self time is
    * its span minus the longest span among its inputs (see README.md). */
  def traced(spark: SparkSession, tracer: Tracer, out: LayerOut): Unit = {
    val counters = Counters.attach(spark)
    val plain = scala.collection.mutable.ArrayBuffer.empty[PlainDay]
    val traced = scala.collection.mutable.ArrayBuffer.empty[TracedDay]
    val fp0 = fingerprint(spark, dates.head)
    dates.tail.zipWithIndex.foreach { case (ds, i) =>
      val c0 = counters.snapshot(spark); val r0 = api.requests.get(); val cpu0 = Jvm.cpuNanos()
      val t0 = System.nanoTime()
      if (i % 2 == 0) {
        val ok = out.rec.op(ds) { land(spark, ds) }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (Jvm.cpuNanos() - cpu0) / 1e9
        val c1 = counters.snapshot(spark)
        if (ok && i >= warmup) plain += PlainDay(wall, cpu, Counters.delta(c0, c1),
          api.requests.get() - r0, partitionFiles(ds))
      } else {
        var self = Map.empty[String, Double]
        val ok = out.rec.op(ds) { self = tracedDay(spark, tracer, ds) }
        val wall = (System.nanoTime() - t0) / 1e9
        if (ok && i >= warmup) traced += TracedDay(wall, (Jvm.cpuNanos() - cpu0) / 1e9, self)
      }
    }
    // the first date again, now through the traced composition: the fact
    // it lands must be the one the untraced pipeline landed
    val relanded = out.rec.op(s"${dates.head} traced") { tracedDay(spark, tracer, dates.head) }
    if (!relanded || fingerprint(spark, dates.head) != fp0) out.fail("traced fact fingerprint differs")
    def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    Layers.foreach { l => out.put(s"$l.s_per_day", "s", med(traced.map(_.self(l)))) }
    out.put("sources.CovidReportSource.calls_per_day", "calls", med(plain.map(_.requests.toDouble)))
    out.put("sources.Sinks.files_per_day", "files", med(plain.map(_.files._1.toDouble)))
    out.put("sources.Sinks.bytes_per_day", "bytes", med(plain.map(_.files._2.toDouble)))
    out.put("pipeline.CovidPipeline.jobs_per_day", "jobs", med(plain.map(_.counts("jobs").toDouble)))
    out.put("pipeline.CovidPipeline.tasks_per_day", "tasks", med(plain.map(_.counts("tasks").toDouble)))
    out.put("pipeline.CovidPipeline.exec_cpu_s_per_day", "cpu-s",
      med(plain.map(_.counts("exec_cpu_ns") / 1e9)))
    if (plain.nonEmpty && traced.nonEmpty) {
      def mean(xs: Iterable[Double]): Double = xs.sum / xs.size
      out.put("pipeline.CovidPipeline.day_p50_s", "s", Stats.median(plain.map(_.wall).toSeq))
      out.put("pipeline.CovidPipeline.day_p90_s", "s", Stats.pct(plain.map(_.wall).toSeq, 0.9))
      out.overhead("pass_s", days * (mean(traced.map(_.wall)) - mean(plain.map(_.wall))))
      out.overhead("cpu_s", days * (mean(traced.map(_.cpu)) - mean(plain.map(_.cpu))))
    }
  }

  private def tracedDay(spark: SparkSession, tracer: Tracer, ds: String): Map[String, Double] = {
    def run(df: DataFrame): Unit = df.queryExecution.toRdd.count()
    val (durs, _) = tracer.span("pipeline.CovidPipeline.day", Map("ds" -> ds)) {
      val (stage, e) = tracer.span(Extract) { val s = stageFor(spark)(ds); run(s); s }
      val (flat, f) = tracer.span(Flatten) { val x = CovidOps.flatten(stage, ds); run(x); x }
      val (_, g) = tracer.span(Gate) { Quality.countGate(flat, RowsPerDay, 0.02) }
      val (dim, d) = tracer.span(RegionDim) { val x = Dims.regionDim(flat); run(x); x }
      val (fact, m) = tracer.span(Fact) {
        val x = Mart.factCovid(Mart.withSurrogateKeys(flat, dim)); run(x); x }
      val (_, w) = tracer.span(Sink) {
        Sinks.overwriteDatePartition(fact.withColumn("day_of_data", lit(ds).cast("date")), lake) }
      Map(Extract -> e.seconds, Flatten -> f.seconds, Gate -> g.seconds,
        RegionDim -> d.seconds, Fact -> m.seconds, Sink -> w.seconds)
    }
    val self = Layers.map { l =>
      l -> (durs(l) - Inputs(l).map(durs).maxOption.getOrElse(0.0)) }.toMap
    tracer.record("self_times", Map("ds" -> ds) ++ self)
    self
  }

  private def fingerprint(spark: SparkSession, ds: String): Fingerprint =
    Exec.fingerprint(spark.read.parquet(lake).filter(col("day_of_data") === lit(ds).cast("date"))
      .drop("day_of_data"))

  private def partitionFiles(ds: String): (Int, Long) = {
    val parts = Option(new java.io.File(s"$lake/day_of_data=$ds").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-"))
    (parts.length, parts.map(_.length).sum)
  }
}

object CovidBackfill {
  /** An untraced date of the traced run: wall and process CPU seconds,
    * listener counts, API requests, and (files, bytes) written. */
  final case class PlainDay(wall: Double, cpu: Double, counts: Map[String, Long],
                            requests: Long, files: (Int, Long))
  /** A traced date: wall and process CPU seconds, self time per layer. */
  final case class TracedDay(wall: Double, cpu: Double, self: Map[String, Double])

  val RowsPerDay = 240L
  val Extract = "sources.CovidReportSource"
  val Flatten = "ops.CovidOps.flatten"
  val Gate = "quality.Quality.countGate"
  val RegionDim = "ops.Dims.regionDim"
  val Fact = "ops.Mart.fact"
  val Sink = "sources.Sinks.overwriteDatePartition"
  val Layers: Seq[String] = Seq(Extract, Flatten, Gate, RegionDim, Fact, Sink)
  /** The materializations each layer's own materialization recomputes. */
  val Inputs: Map[String, Seq[String]] = Map(Extract -> Nil, Flatten -> Seq(Extract),
    Gate -> Seq(Flatten), RegionDim -> Seq(Flatten), Fact -> Seq(Flatten, RegionDim),
    Sink -> Seq(Fact))

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
