package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.ops.CovidOps
import graft.pipeline.{CovidFixture, CovidPipeline}
import graft.sources.CovidPayloadProvider

/** Injected fetch stub for the payloadProvider seam test; top-level with a
  * no-arg constructor as the reflective contract requires. Call tracking
  * works because local-mode executors share the test JVM. */
final class StubPayloadProvider extends CovidPayloadProvider {
  override def fetch(ds: String, iso: String, country: String,
                     countryIdx: Int, provinces: Int): String = {
    StubPayloadProvider.calls.add(iso)
    s"""{"stub":"$ds/$iso"}"""
  }
}
object StubPayloadProvider {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Configured stub exercising the SAME Map-constructor injection path
  * [[graft.sources.HttpCovidProvider]] uses (no network in CI): `provider.*`
  * reader options must arrive prefix-stripped and lowercased. */
final class ConfiguredStubProvider(options: Map[String, String])
    extends CovidPayloadProvider {
  override def fetch(ds: String, iso: String, country: String,
                     countryIdx: Int, provinces: Int): String =
    s"""{"url":"${options.getOrElse("url", "?")}","key":"${
      options.getOrElse("header.x-api-key", "?")}","iso":"$iso"}"""
}

/** DSv2 connector: one partition per scan whose reader fetches every report
  * concurrently, pushdown that prunes reports before any "fetch" (iso,
  * date, LIMIT, columns), and end-to-end equivalence with the in-memory
  * stage fixture. */
class CovidReportSourceSpec extends SparkSpec {

  private def src = spark.read
    .format("graft.sources.CovidReportSource")
    .option("date", "2023-03-02")

  /** The source through [[CountingPayloadProvider]], and the fetches
    * `body` makes with it. */
  private def counted = src.option("payloadProvider", classOf[CountingPayloadProvider].getName)
  private def fetches(body: => Unit): Long = {
    CountingPayloadProvider.calls.set(0)
    body
    CountingPayloadProvider.calls.get
  }

  test("fixture JSON keeps its key order, NULL province and number text") {
    // both pinned from the string-built fixture this codec replaced
    assert(Json.mapper.writeValueAsString(
      CovidFixture.report("2023-03-02", "CHN", "China", null, 97)) ===
      """{"date":"2023-03-02","active":2915,"deaths":107,"confirmed":4589,""" +
      """"recovered":1567,"active_diff":6,"deaths_diff":1,"confirmed_diff":9,""" +
      """"recovered_diff":2,"last_update":"2023-03-02 23:59:59",""" +
      """"fatality_rate":0.023316626716060145,"region":{"iso":"CHN","lat":58.5,""" +
      """"long":44.25,"name":"China","cities":["c97a","c97b"],"province":null}}""")
    val envelope = CovidFixture.envelope("2023-03-02", "RUS", "Russia", 1, 48)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(envelope.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(sha === "2b1f47242c27e35e3635850f802e72bb51c45ffee393f9eb498ed6556e710b6d")
  }

  private def batchScan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get

  test("one input partition per scan; rows match the fixture") {
    val df = counted.load()
    assert(df.rdd.getNumPartitions === 1)
    val fix = CovidFixture.stage(spark)
    assert(fetches { assert(df.collect().toSet === fix.collect().toSet) } === 5)
  }

  test("iso filter prunes reports at the source: one fetch") {
    val df = counted.load().filter(col("iso_country") === "RUS")
    assert(df.rdd.getNumPartitions === 1)
    assert(fetches { assert(df.collect().length === 1) } === 1)
    // pushdown is visible in the scan description
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("countries=Set(RUS)"), p.take(500))
  }

  test("column pruning reaches the reader (json_data not built)") {
    val df = counted.load().select("iso_country", "date_of_data")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("columns=date_of_data,iso_country"), p.take(500))
    assert(fetches { assert(df.collect().length === 5) } === 0)
  }

  test("LIMIT pushes to the source: only the first n reports are fetched") {
    val df = counted.load().limit(2)
    assert(fetches { assert(df.collect().length === 2) } === 2)
    assert(batchScan(df).inputPartitions.length === 1) // 3 countries never fetched
  }

  test("date pushdown: the connector answers date_of_data = d, no Filter stays above it") {
    def dateFilters(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.references.exists(_.name == "date_of_data") => f
      }
    // control: over a stage that cannot answer it, the Filter is found
    assert(dateFilters(CovidOps.forDate("2023-03-02")(CovidFixture.stage(spark))).nonEmpty)
    // the pushed value is a java.sql.Date or, with the Java 8 API on, a LocalDate
    val java8 = "spark.sql.datetime.java8API.enabled"
    val before = spark.conf.get(java8)
    try for (on <- Seq("false", "true")) {
      spark.conf.set(java8, on)
      // read for one date, filtered to another: no report, no fetch
      val other = CovidOps.forDate("2023-03-03")(counted.load())
      assert(fetches { assert(other.collect().isEmpty) } === 0)
      assert(dateFilters(other).isEmpty, other.queryExecution.executedPlan.toString)
      assert(batchScan(other).inputPartitions.isEmpty)
      // filtered to its own date: every report, still no Filter
      val same = CovidOps.forDate("2023-03-02")(counted.load())
      assert(fetches { assert(same.collect().length === 5) } === 5)
      assert(dateFilters(same).isEmpty, same.queryExecution.executedPlan.toString)
    } finally spark.conf.set(java8, before)
  }

  test("payloadProvider option injects a custom fetch (the S1 HTTP seam)") {
    val df = src
      .option("payloadProvider", classOf[StubPayloadProvider].getName)
      .load()
    val payloads = df.select("iso_country", "json_data").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(payloads.size === 5)
    assert(payloads("RUS") === """{"stub":"2023-03-02/RUS"}""")
    // pushdown still composes with a custom provider: pruned countries
    // are never fetched at all
    StubPayloadProvider.calls.clear()
    src.option("payloadProvider", classOf[StubPayloadProvider].getName)
      .load().filter(col("iso_country") === "CHN").collect()
    assert(StubPayloadProvider.calls.asScala.toSet === Set("CHN"))
  }

  test("provider.* options reach a Map-constructor provider (HTTP config path)") {
    val df = src
      .option("payloadProvider", classOf[ConfiguredStubProvider].getName)
      .option("provider.url", "http://example.test/reports")
      .option("provider.header.X-Api-Key", "sekrit")
      .load().filter(col("iso_country") === "RUS")
    val payload = df.select("json_data").collect().head.getString(0)
    assert(payload ===
      """{"url":"http://example.test/reports","key":"sekrit","iso":"RUS"}""")
  }

  test("pipeline over the connector == pipeline over the fixture") {
    val viaSource = CovidPipeline.run(spark, src.load(), "2023-03-02").fact
    val viaFixture = CovidPipeline.run(spark, CovidFixture.stage(spark), "2023-03-02").fact
    assert(viaSource.collect().toSet === viaFixture.collect().toSet)
  }

  // ---- HttpCovidProvider end-to-end over a real socket -------------------
  // An in-JVM com.sun.net.httpserver fixture (no network egress) pins the
  // reference extract contract (dags/ETL_covid19_pandas.py:33-55): auth
  // headers + date/iso query params on the wire, the timeout option, and
  // both non-200 postures (fail-fast default; absorbNon200 warn-and-skip
  // parity). The provider is wired reflectively through the connector —
  // the exact production path — not called directly.

  /** One handler: 200 + the real fixture envelope for RUS, 503 for CHN,
    * a past-deadline stall for IND; records every request's query + the
    * api-key header. */
  private def withHttpFixture(test: (String, java.util.concurrent.ConcurrentLinkedQueue[(String, String)]) => Unit): Unit = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    withHttpServer { (iso, ex, respond) =>
      seen.add(Option(ex.getRequestURI.getQuery).getOrElse("") ->
        Option(ex.getRequestHeaders.getFirst("X-Rapidapi-Key")).orNull)
      iso match {
        case "CHN" => respond(503, "upstream sad")
        case "IND" => Thread.sleep(3000); respond(200, """{"data":[]}""")
        case _ => respond(200, envelope(iso))
      }
    }(url => test(url, seen))
  }

  /** The fixture envelope the API serves for one country on 2023-03-02. */
  private def envelope(iso: String): String = {
    val ci = CovidFixture.isoCountries.indexWhere(_._1 == iso)
    CovidFixture.envelope("2023-03-02", iso, CovidFixture.isoCountries(ci)._2, ci, 48)
  }

  /** An in-JVM server on 127.0.0.1 whose `/reports` handler gets each
    * request's `iso` parameter, the exchange and a responder; its
    * executor has a thread for every country's request at once. */
  private def withHttpServer(
      handle: (String, com.sun.net.httpserver.HttpExchange, (Int, String) => Unit) => Unit)(
      test: String => Unit): Unit = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/reports", (ex: com.sun.net.httpserver.HttpExchange) => {
      val iso = Option(ex.getRequestURI.getQuery).getOrElse("").split("&").collectFirst {
        case kv if kv.startsWith("iso=") => kv.stripPrefix("iso=")
      }.getOrElse("")
      handle(iso, ex, (code, body) => {
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(CovidFixture.isoCountries.size + 1)
    server.setExecutor(pool)
    server.start()
    try test(s"http://127.0.0.1:${server.getAddress.getPort}/reports")
    finally { server.stop(0); pool.shutdownNow() }
  }

  private def httpSrc(url: String) = src
    .option("payloadProvider", "graft.sources.HttpCovidProvider")
    .option("provider.url", url)
    .option("provider.header.x-rapidapi-key", "test-key-123")

  test("HTTP provider end-to-end: 200 payload == fixture; auth header and " +
      "query params on the wire") {
    withHttpFixture { (url, seen) =>
      val got = httpSrc(url).load()
        .filter(col("iso_country") === "RUS").collect()
      assert(got.length === 1)
      // the payload that crossed the socket is byte-identical to the
      // fixture generator's envelope — the full pipeline parses it
      assert(got.head.getString(3) ===
        CovidFixture.envelope("2023-03-02", "RUS",
          CovidFixture.isoCountries.find(_._1 == "RUS").get._2,
          CovidFixture.isoCountries.indexWhere(_._1 == "RUS"), 48))
      val (query, key) = seen.asScala.head
      assert(query === "date=2023-03-02&iso=RUS")
      assert(key === "test-key-123")
    }
  }

  test("HTTP provider: non-200 fails the task by default (scheduler retry " +
      "is the cluster-honest posture)") {
    withHttpFixture { (url, _) =>
      val e = intercept[Exception] {
        httpSrc(url).load().filter(col("iso_country") === "CHN").collect()
      }
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("HTTP 503"), s"unexpected failure: $e")
    }
  }

  test("HTTP provider: absorbNon200 reproduces the reference warn-and-skip " +
      "(empty envelope, count gate is the backstop)") {
    withHttpFixture { (url, _) =>
      val got = httpSrc(url)
        .option("provider.absorbNon200", "true")
        .load().filter(col("iso_country") === "CHN").collect()
      assert(got.length === 1)
      assert(got.head.getString(3) === """{"data":[]}""")
      // and the absorbed day surfaces downstream as ZERO flat rows for
      // the country (the fixture yields 48 clean provinces) — exactly
      // the shortfall the A2 count tolerance gate exists to flag
      val stage = spark.createDataFrame(
        java.util.Arrays.asList(got: _*),
        graft.sources.CovidReportSource.schema)
      assert(graft.ops.CovidOps.flatten(stage, "2023-03-02").count() === 0)
    }
  }

  test("HTTP provider: timeoutSec is the request deadline (60s contract, " +
      "configurable)") {
    withHttpFixture { (url, _) =>
      val e = intercept[Exception] {
        httpSrc(url)
          .option("provider.timeoutSec", "1")
          .load().filter(col("iso_country") === "IND").collect()
      }
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(e).exists(
        _.isInstanceOf[java.net.http.HttpTimeoutException]),
        s"expected HttpTimeoutException in cause chain: $e")
    }
  }

  test("HTTP provider: a date's five fetches are in flight together") {
    // each request is answered only once all five have arrived, so a
    // reader that fetched one report after another would get five 503s
    // (a task retry would see the latch already open: count the 503s)
    val arrived = new java.util.concurrent.CountDownLatch(CovidFixture.isoCountries.size)
    val refused = new java.util.concurrent.atomic.AtomicInteger
    withHttpServer { (iso, _, respond) =>
      arrived.countDown()
      if (arrived.await(10, java.util.concurrent.TimeUnit.SECONDS)) respond(200, envelope(iso))
      else { refused.incrementAndGet(); respond(503, "fetched one at a time") }
    } { url =>
      val got = httpSrc(url).load().collect()
      assert(refused.get === 0)
      assert(got.map(_.getString(2)).toSeq === CovidFixture.isoCountries.map(_._1))
      assert(got.forall(r => r.getString(3) === envelope(r.getString(2))))
    }
  }

  test("HTTP provider: a failed fetch fails the task with the provider's own exception") {
    withHttpFixture { (url, _) =>
      val e = intercept[org.apache.spark.SparkException] {
        httpSrc(url).load().filter(col("iso_country").isin("CHN", "RUS")).collect()
      }
      assert(e.getCause.isInstanceOf[IllegalStateException], s"unexpected cause: ${e.getCause}")
      assert(e.getCause.getMessage.contains("HTTP 503 for (2023-03-02, CHN)"))
    }
  }
}
