package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
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

/** DSv2 connector: fan-out partitioning, partition-level filter pushdown
  * (countries prune before any "fetch"), column pruning, and end-to-end
  * equivalence with the in-memory stage fixture. */
class CovidReportSourceSpec extends SparkSpec {

  private def src = spark.read
    .format("graft.sources.CovidReportSource")
    .option("date", "2023-03-02")

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

  test("one input partition per country; rows match the fixture") {
    val df = src.load()
    assert(df.rdd.getNumPartitions === 5)
    val fix = CovidFixture.stage(spark)
    assert(df.collect().toSet === fix.collect().toSet)
  }

  test("iso filter prunes partitions at the source") {
    val df = src.load().filter(col("iso_country") === "RUS")
    assert(df.rdd.getNumPartitions === 1)
    assert(df.count() === 1)
    // pushdown is visible in the scan description
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("countries=Set(RUS)"), p.take(500))
  }

  test("column pruning reaches the reader (json_data not built)") {
    val df = src.load().select("iso_country", "date_of_data")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("columns=date_of_data,iso_country"), p.take(500))
    assert(df.count() === 5)
  }

  test("LIMIT pushes to the source: only the first n partitions are planned") {
    val df = src.load().limit(2)
    assert(df.count() === 2)
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.inputPartitions.length === 2) // 3 countries never planned
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
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/reports", (ex: com.sun.net.httpserver.HttpExchange) => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      seen.add(q -> Option(ex.getRequestHeaders.getFirst("X-Rapidapi-Key")).orNull)
      val iso = q.split("&").collectFirst {
        case kv if kv.startsWith("iso=") => kv.stripPrefix("iso=")
      }.getOrElse("")
      def respond(code: Int, body: String): Unit = {
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
      iso match {
        case "CHN" => respond(503, "upstream sad")
        case "IND" => Thread.sleep(3000); respond(200, """{"data":[]}""")
        case _ =>
          val (is, country) = CovidFixture.isoCountries.find(_._1 == iso).get
          val ci = CovidFixture.isoCountries.indexWhere(_._1 == iso)
          respond(200, CovidFixture.envelope("2023-03-02", is, country, ci, 48))
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    try test(s"http://127.0.0.1:${server.getAddress.getPort}/reports", seen)
    finally server.stop(0)
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
}
