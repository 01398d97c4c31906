package graft.sources

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

/** Production HTTP implementation of the fetch seam (reference behavior:
  * `dags/ETL_covid19_pandas.py:33-44` — one GET per (date, country) with
  * `date`/`iso` query params, auth headers, 60 s timeout).
  *
  * Wire it with
  * {{{
  * spark.read.format("graft.sources.CovidReportSource")
  *   .option("payloadProvider", "graft.sources.HttpCovidProvider")
  *   .option("provider.url", "https://covid-19-statistics.p.rapidapi.com/reports")
  *   .option("provider.header.x-rapidapi-key", apiKey)
  *   .option("provider.header.x-rapidapi-host", "covid-19-statistics.p.rapidapi.com")
  *   .load()
  * }}}
  * Every `provider.*` reader option reaches the constructor map (keys
  * lowercased by Spark's option map, prefix stripped); `header.*` entries
  * become request headers — HTTP header names are case-insensitive, so the
  * lowercasing is harmless. The client is built lazily on the EXECUTOR,
  * once per date: the connector instantiates the provider once per
  * partition reader, and a scan is one partition, so the date's
  * concurrent fetches share one client (`HttpClient` is thread-safe).
  * Connections/timeouts live where the fetch runs and nothing here needs
  * to be serializable-stateful.
  *
  * No live endpoint in CI (the sandbox has no egress), but the provider IS
  * driven end-to-end over a real socket: CovidReportSourceSpec stands up an
  * in-JVM `com.sun.net.httpserver` fixture and pins the full reference
  * extract contract — auth header delivery, the date/iso query params, the
  * 60 s (configurable) timeout, non-200 fail-fast, and the
  * `absorbNon200` warn-and-skip parity mode — through the connector's
  * reflective constructor path, not by calling fetch() directly.
  */
final class HttpCovidProvider(options: Map[String, String])
    extends CovidPayloadProvider {

  private val url =
    options.getOrElse("url", "https://covid-19-statistics.p.rapidapi.com/reports")
  private val timeout =
    Duration.ofSeconds(options.get("timeoutsec").map(_.toLong).getOrElse(60L))
  // reference parity switch: the reference WARNS and skips a failed fetch
  // (`dags/ETL_covid19_pandas.py:45-55`), trusting the downstream count
  // tolerance gate (A2) to flag a short day. `provider.absorbNon200=true`
  // reproduces that: non-200 → warn + empty envelope (zero report rows).
  // Default is fail-fast — in a Spark reader a task failure is retried by
  // the scheduler, which is the honest cluster equivalent of "try again".
  private val absorbNon200 =
    options.get("absorbnon200").exists(_.toBoolean)
  private val headers = options.collect {
    case (k, v) if k.startsWith("header.") => k.stripPrefix("header.") -> v
  }

  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(timeout).build()

  private def enc(s: String): String =
    URLEncoder.encode(s, StandardCharsets.UTF_8)

  override def fetch(ds: String, iso: String, country: String,
                     countryIdx: Int, provinces: Int): String = {
    val b = HttpRequest.newBuilder(URI.create(s"$url?date=${enc(ds)}&iso=${enc(iso)}"))
      .timeout(timeout).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() == 200) resp.body()
    else if (absorbNon200) {
      // reference warn-and-skip: the report is absorbed as an empty
      // envelope and the count gate downstream is the backstop
      System.err.println(s"[covid-source] WARN: HTTP ${resp.statusCode()} " +
        s"for ($ds, $iso) — absorbed as empty report (absorbNon200)")
      """{"data":[]}"""
    } else throw new IllegalStateException(
      s"covid report fetch failed: HTTP ${resp.statusCode()} for ($ds, $iso)")
  }
}
