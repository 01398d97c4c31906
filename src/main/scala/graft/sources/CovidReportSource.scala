package graft.sources

import java.time.LocalDate
import java.util
import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Future, LinkedBlockingQueue,
  ThreadPoolExecutor, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.pipeline.CovidFixture

/** DataSource V2 connector for the reference's extract stage (SURVEY.md §2.1
  * S1): `spark.read.format("graft.sources.CovidReportSource")` yields the
  * stage table `(id, date_of_data, iso_country, json_data)`, one row per
  * (date, country) report, in ONE INPUT PARTITION PER SCAN. Its reader
  * starts every report's "API call" at once on a small pool, so the
  * reference's 5-way parallel HTTP fan-out (`dags/ETL_covid19_spark.py:
  * 83-88`) is kept inside one task: a date is 240 rows, and a task (with
  * the stage boundary a second one brings) per country costs more than the
  * rows do. The call is the deterministic fixture generator by default; a
  * production build swaps in an HTTP client, same classes.
  *
  * Real pushdown, all of it pruning REPORTS before any is fetched:
  *  - iso filter pushdown: `iso_country = 'RUS'` / `IN (...)` drops the
  *    unmatched countries' reports;
  *  - date pushdown: `date_of_data = d` is answered by the connector, so
  *    Spark applies no Filter above the scan (and a date literal never
  *    reaches generated code); a `d` other than the `date` option leaves
  *    no report;
  *  - column pruning: if `json_data` is not in the required schema, the
  *    reader never builds the payload (the expensive part) at all;
  *  - LIMIT n: only the first n reports are fetched.
  *
  * Options: `date` (yyyy-MM-dd), `provincesPerCountry` (default 48),
  * `payloadProvider` (fully-qualified class name of a
  * [[CovidPayloadProvider]]; default [[FixturePayloadProvider]]). The
  * provider is the FETCH SEAM: a production build sets
  * `.option("payloadProvider", "com.example.HttpCovidProvider")` and the
  * connector instantiates it per partition reader on the executor — the
  * same class-name-in-config injection JDBC uses for drivers. Everything
  * else (partitioning, pushdown, pruning) is provider-agnostic.
  *
  * A failed fetch fails the task with the provider's own exception. A
  * task retry fetches the whole date again, not just the failed country.
  */
class CovidReportSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CovidReportSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CovidReportTable(new CaseInsensitiveStringMap(properties))
}

object CovidReportSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("date_of_data", DateType, nullable = false),
    StructField("iso_country", StringType, nullable = false),
    StructField("json_data", StringType, nullable = false)))
}

/** The per-report fetch seam (reference behavior:
  * `dags/ETL_covid19_pandas.py:33-44` — one HTTP GET per (date, country)).
  * Implementations must be top-level classes with a no-arg constructor;
  * they are instantiated reflectively on the EXECUTOR, once per partition
  * reader — exactly where a real HTTP client/connection pool would live.
  * The reader calls `fetch` for a date's reports concurrently, from its
  * fetch pool's threads, so `fetch` must be thread-safe. */
trait CovidPayloadProvider extends Serializable {
  /** Return the raw JSON envelope for one (date, country) report. */
  def fetch(ds: String, iso: String, country: String,
            countryIdx: Int, provinces: Int): String
}

/** Default provider: the deterministic covid-shaped fixture generator (the
  * sandbox has no egress; a production HTTP provider is a drop-in). */
final class FixturePayloadProvider extends CovidPayloadProvider {
  override def fetch(ds: String, iso: String, country: String,
                     countryIdx: Int, provinces: Int): String =
    CovidFixture.envelope(ds, iso, country, countryIdx, provinces)
}

private[sources] class CovidReportTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "covid_reports"
  override def schema(): StructType = CovidReportSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // getTable receives the merged properties; reader options came here
    val merged = new util.HashMap[String, String]()
    merged.putAll(options)
    merged.putAll(caseInsensitiveOptions)
    new CovidScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

private[sources] class CovidScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {

  private val ds = options.getOrDefault("date", "2023-03-02")
  private var required: StructType = CovidReportSource.schema
  private var isoFilter: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  /** One row per report, so LIMIT n == the first n reports: the other
    * countries are never "fetched" at all. Fully pushed (return true):
    * the scan emits at most `n` rows. */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    true
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("iso_country", _: String) => true
      case In("iso_country", _) => true
      // Spark hands a date literal over as either class, per
      // spark.sql.datetime.java8API.enabled
      case EqualTo("date_of_data", _: java.sql.Date | _: LocalDate) => true
      case IsNotNull(_) => true // schema is non-nullable: trivially true
      case _ => false
    }
    def keep(isos: Set[String]): Unit =
      isoFilter = Some(isoFilter.fold(isos)(_.intersect(isos)))
    accepted.foreach {
      case EqualTo("iso_country", v: String) => keep(Set(v))
      case In("iso_country", vs) => keep(vs.collect { case v: String => v }.toSet)
      // every row carries the scan's date: another date matches no report
      case EqualTo("date_of_data", d) =>
        val day = d match {
          case j: java.sql.Date => j.toLocalDate
          case l: LocalDate => l
        }
        if (day != LocalDate.parse(ds)) keep(Set.empty)
      case _ => ()
    }
    pushed = accepted
    rejected // Spark re-applies these above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new CovidScan(
    required,
    isoFilter,
    limit,
    ds,
    options.getInt("provincesPerCountry", 48),
    options.getOrDefault("payloadProvider",
      classOf[FixturePayloadProvider].getName),
    // provider.* reader options travel to the provider constructor
    // (prefix stripped; keys are lowercased by CaseInsensitiveStringMap)
    options.asScala.collect {
      case (k, v) if k.startsWith("provider.") =>
        k.stripPrefix("provider.") -> v
    }.toMap)
}

private[sources] class CovidScan(required: StructType, isoFilter: Option[Set[String]],
                                 limit: Option[Int],
                                 ds: String, provinces: Int,
                                 providerClass: String,
                                 providerOptions: Map[String, String])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"CovidReportSource(date=$ds, countries=${isoFilter.getOrElse("ALL")}, " +
      s"columns=${required.fieldNames.mkString(",")})"

  /** One partition holding every surviving (date, country) report, in
    * country order; none when no report survives. A pushed LIMIT keeps
    * only the first n reports (1 row each). */
  override def planInputPartitions(): Array[InputPartition] = {
    val surviving = CovidFixture.isoCountries.zipWithIndex.collect {
      case ((iso, country), ci) if isoFilter.forall(_.contains(iso)) =>
        CovidReport(ci, iso, country)
    }
    val reports = limit.fold(surviving)(surviving.take)
    if (reports.isEmpty) Array.empty
    else Array(CovidInputPartition(ds, provinces, reports))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CovidReaderFactory(required, providerClass, providerOptions)
}

private[sources] final case class CovidReport(countryIdx: Int, iso: String, country: String)

private[sources] final case class CovidInputPartition(
    ds: String, provinces: Int, reports: Seq[CovidReport]) extends InputPartition

private[sources] class CovidReaderFactory(required: StructType,
                                          providerClass: String,
                                          providerOptions: Map[String, String])
    extends PartitionReaderFactory {

  /** Executor-side fetch pool, a thread per country: a date's fetches are
    * all in flight together. Its threads are daemons and end after a
    * second idle, so a pool left behind by a finished task holds nothing. */
  @transient private lazy val pool: ExecutorService = {
    val n = CovidFixture.isoCountries.size
    val p = new ThreadPoolExecutor(n, n, 1, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "covid-report-fetch")
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CovidInputPartition]
    new PartitionReader[InternalRow] {
      // executor-side, once per partition reader — where a real HTTP
      // client (connection pool, auth token) would be initialized.
      // Providers that take configuration (HttpCovidProvider's url/headers)
      // declare a Map[String,String] constructor; stateless ones keep the
      // no-arg form — same class-name injection either way.
      private def provider(): CovidPayloadProvider = {
        val cls = Class.forName(providerClass)
        val inst =
          try cls.getDeclaredConstructor(classOf[Map[String, String]])
            .newInstance(providerOptions)
          catch {
            case _: NoSuchMethodException =>
              cls.getDeclaredConstructor().newInstance()
          }
        inst.asInstanceOf[CovidPayloadProvider]
      }
      private val epochDays = LocalDate.parse(p.ds).toEpochDay.toInt
      // every fetch starts before the first row is read; json_data (the
      // expensive "API call" payload) is not fetched at all when pruned
      private val payloads: IndexedSeq[Future[String]] =
        if (!required.fieldNames.contains("json_data")) IndexedSeq.empty
        else {
          val fetcher = provider()
          p.reports.toIndexedSeq.map(r => pool.submit((() =>
            fetcher.fetch(p.ds, r.iso, r.country, r.countryIdx, p.provinces)): Callable[String]))
        }
      private var i = -1

      override def next(): Boolean = { i += 1; i < p.reports.length }

      override def get(): InternalRow = {
        val r = p.reports(i)
        // build ONLY the required columns
        val values = required.fieldNames.map {
          case "id" => r.countryIdx.toLong
          case "date_of_data" => epochDays
          case "iso_country" => UTF8String.fromString(r.iso)
          case "json_data" => UTF8String.fromString(payload(i))
        }
        new GenericInternalRow(values.asInstanceOf[Array[Any]])
      }

      /** The i-th report's payload; a failed fetch rethrows its own cause. */
      private def payload(i: Int): String =
        try payloads(i).get()
        catch { case e: ExecutionException => throw e.getCause }

      override def close(): Unit = payloads.foreach(_.cancel(true))
    }
  }
}
