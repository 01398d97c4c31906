package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import graft.ops.{CovidOps, Dims, Mart}
import graft.pipeline.{CovidFixture, CovidPipeline}
import graft.quality.Quality
import graft.sources.{CovidPayloadProvider, FixturePayloadProvider}

/** The fixture provider, counting every fetch in a JVM-wide counter (the
  * connector instantiates providers reflectively, once per partition
  * reader, so the count cannot live on an instance). */
final class CountingPayloadProvider extends CovidPayloadProvider {
  private val fixture = new FixturePayloadProvider
  override def fetch(ds: String, iso: String, country: String,
                     countryIdx: Int, provinces: Int): String = {
    CountingPayloadProvider.calls.incrementAndGet()
    fixture.fetch(ds, iso, country, countryIdx, provinces)
  }
}

object CountingPayloadProvider {
  val calls = new AtomicLong
}

/** Each date is extracted once, gated from that one extract, loaded as one
  * file by one write, published only past the gate, and leaves no landed
  * block behind. */
class CovidLandingSpec extends SparkSpec {

  private def counted(ds: String): DataFrame =
    spark.read.format("graft.sources.CovidReportSource")
      .option("date", ds)
      .option("payloadProvider", classOf[CountingPayloadProvider].getName)
      .load()

  private def freshLake(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).resolve("fact").toString

  /** Persisted RDD ids and whether any DataFrame cache entry exists: what a
    * landed date would leave behind if it outlived its write. */
  private def cacheState = (spark.sparkContext.getPersistentRDDs.keySet,
    spark.sharedState.cacheManager.isEmpty)

  test("runRange fetches each (date, country) once: 5 per date, 15 over 3 dates") {
    CountingPayloadProvider.calls.set(0)
    val landed = CovidPipeline.runRange(spark, "2023-03-01", "2023-03-03",
      freshLake("graft_fetches"), counted)
    assert(landed.size === 3)
    assert(CountingPayloadProvider.calls.get === 15)
  }

  test("a date whose gate fails is fetched once too") {
    CountingPayloadProvider.calls.set(0)
    intercept[Quality.QualityCheckFailure] {
      CovidPipeline.runRange(spark, "2023-03-01", "2023-03-01",
        freshLake("graft_fetches_fail"), counted, expectedRows = 9999)
    }
    assert(CountingPayloadProvider.calls.get === 5)
  }

  test("no landed block outlives its date, on success and on a failed gate") {
    spark.sharedState.cacheManager.clearCache() // entries of earlier suites
    val before = cacheState
    CovidPipeline.runRange(spark, "2023-03-01", "2023-03-02", freshLake("graft_release"))
    assert(cacheState === before)
    intercept[Quality.QualityCheckFailure] {
      CovidPipeline.runRange(spark, "2023-03-01", "2023-03-02",
        freshLake("graft_release_fail"), expectedRows = 9999)
    }
    assert(cacheState === before)
  }

  test("the landed partition equals the unlanded composition, in one file") {
    // through the connector, whose reports are fetched concurrently: the
    // file holds every country's rows, ranked in one task
    val ds = "2023-03-02"
    val lake = freshLake("graft_equiv")
    CovidPipeline.runRange(spark, ds, ds, lake, counted)
    val f = CovidOps.flatten(counted(ds), ds)
    val expected = Mart.factCovid(Mart.withSurrogateKeys(f, Dims.regionDim(f)))
    val got = spark.read.parquet(lake)
      .filter(col("day_of_data") === lit(ds).cast("date"))
      .select(expected.columns.map(col): _*)
    assert(got.count() === 240)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    val parts = new java.io.File(s"$lake/day_of_data=$ds").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length === 1)
  }

  test("a connector date is one SQL execution of 1 job and 1 task, and compiles no new class") {
    // fetch, parse, rank and write run in one task: the scan is one
    // partition, the connector answers the date predicate (no date
    // literal in generated code), and the rank reads through coalesce(1)
    val lake = freshLake("graft_jobs")
    CovidPipeline.runRange(spark, "2023-03-01", "2023-03-01", lake, counted)
    CountingPayloadProvider.calls.set(0)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val counts = jobsExecutionsAndTasks {
      CovidPipeline.runRange(spark, "2023-03-02", "2023-03-02", lake, counted)
    }
    assert(counts === ((1, 1, 1)))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles0)
    assert(CountingPayloadProvider.calls.get === 5)
  }

  test("a re-run whose gate fails publishes nothing: same files, same bytes, no staging left") {
    val ds = "2023-03-02"
    val lake = freshLake("graft_gate_rerun")
    CovidPipeline.runRange(spark, ds, ds, lake, counted)
    val before = partitionBytes(lake, ds)
    var notified = List.empty[String]
    intercept[Quality.QualityCheckFailure] {
      CovidPipeline.runRange(spark, ds, ds, lake, counted, expectedRows = 9999,
        onFailure = (d, _) => notified ::= d)
    }
    assert(notified === List(ds))
    assert(partitionBytes(lake, ds) === before)
    assert(stagingEntries(lake).isEmpty)
  }

  test("the rank-keyed fact equals the dim-joined fact, NULL natural-key parts included") {
    import org.apache.spark.sql.types.StringType
    val f = CovidOps.flatten(CovidFixture.stage(spark, "2023-03-02"), "2023-03-02")
    val withNulls = f
      .unionByName(f.filter(col("region_name") === "China_Prov_0")
        .withColumn("country_name", lit(null).cast(StringType)))
      .unionByName(f.filter(col("region_name") === "Russia_Prov_1")
        .withColumn("region_name", lit(null).cast(StringType)))
    for ((flat, nullKeys) <- Seq(f -> 0L, withNulls -> 2L)) {
      val expected = Mart.factCovid(Mart.withSurrogateKeys(flat, Dims.regionDim(flat)))
      val got = Mart.rankKeyedFact(flat)
      assert(got.schema === expected.schema)
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
      assert(got.filter(col("region_key").isNull).count() === nullKeys)
      assert(expected.filter(col("region_key").isNull).count() === nullKeys)
    }
  }
}
