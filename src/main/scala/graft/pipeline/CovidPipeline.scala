package graft.pipeline

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.Json
import graft.ops.{CovidOps, Dims, Mart}
import graft.quality.Quality
import graft.sources.Sinks
import graft.schemas.CovidSchemas

/** End-to-end covid pipeline (SURVEY.md §3.2 unified with §3.1):
  * stage -> flatten -> quality gate -> dims -> surrogate keys -> fact.
  *
  * One date-parameterized run, like the reference's per-`ds` increments —
  * but unlike the reference's PySpark DAG (which never loads the mart,
  * `SURVEY.md §3.1 note`), this pipeline does flatten AND dimensional load.
  *
  * Each date is extracted ONCE, as the reference lands each report once in
  * its `covid19_json` staging table, and the mart is built from the same
  * snapshot the gate passed — with a live API, never from a second fetch.
  *
  * [[runRange]] loads a date with ONE write, gated from its own Observation
  * and published by rename: the fact is keyed straight from the flattened
  * rows ([[graft.ops.Mart.rankKeyedFact]]) and written into a hidden
  * staging directory under the lake ([[graft.sources.Sinks.replaceDatePartition]]).
  * That write makes exactly one fetch per (date, country) and fills an
  * Observation of the flattened row count; the gate reads it, and only a
  * date that passes is renamed into the lake. A failing date leaves the
  * lake untouched. Since the gate follows the write, an oversized bad
  * extract is ranked in one task and staged before the gate rejects it; it
  * never reaches the lake.
  *
  * [[run]] returns one date's mart lazily, its region dim and the fact
  * keyed against that dim by the broadcast join: the flattened rows are
  * persisted and materialized by a single observed `noop` write, the gate
  * reads that Observation BEFORE the mart is built, and downstream of the
  * gate the landed frame is read as ONE partition — a passed gate bounds
  * the date to `expectedRows * (1 + tolerance)` rows (245 at the
  * reference's 240 ± 2 %), so this is not a tuning knob.
  */
object CovidPipeline {

  /** One date's mart over its landed flat rows. `flat` stays persisted
    * until [[release]]; `regionDim` and `fact` read it. */
  final case class Result(flat: DataFrame, regionDim: DataFrame, fact: DataFrame) {
    /** Free the landed blocks (blocking, so the next date does not inherit
      * the eviction work). `regionDim` and `fact` recompute from the
      * extract if evaluated afterwards. */
    def release(): Unit = flat.unpersist(blocking = true)
  }

  /** One date's flattened rows and the Observation of their count that the
    * first action over them fills. A name per call: one query over two
    * runs' frames (two dates, or one date from two sources) must not see
    * two definitions of one metric, and a run must not match a still-cached
    * landing of an earlier run. */
  private def observedFlat(stage: DataFrame, ds: String): (DataFrame, Observation) =
    Quality.withObservedStats(
      CovidOps.flatten(stage, ds), Nil, s"covid_gate_${java.util.UUID.randomUUID}")

  /** Run the pipeline for one logical date over a stage table: land and
    * gate eagerly, return the lazy mart over the landed rows. On a failed
    * gate the landed rows are released before the error propagates; on
    * success the caller owns them ([[Result.release]]).
    *
    * @param expectedRows quality-gate expectation (reference: 240)
    * @param tolerance    relative tolerance (reference: 0.02)
    */
  def run(spark: SparkSession, stage: DataFrame, ds: String,
          expectedRows: Long = 240, tolerance: Double = 0.02): Result = {
    val (observed, obs) = observedFlat(stage, ds)
    val landed = observed.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      landed.write.format("noop").mode("overwrite").save()
      Quality.observedCountGate(obs, expectedRows, tolerance)
    } catch {
      case e: Throwable => landed.unpersist(blocking = true); throw e
    }
    val one = landed.coalesce(1)
    val regions = Dims.regionDim(one)
    Result(landed, regions, Mart.factCovid(Mart.withSurrogateKeys(one, regions)))
  }

  /** Multi-date backfill — the Airflow `catchup=True` twin (reference
    * `dags/ETL_covid19_spark.py:77`): one write per date in [ds0, ds1],
    * gated from its own Observation and published by rename as an
    * IDEMPOTENT replace of that date's partition
    * ([[graft.sources.Sinks.replaceDatePartition]] — the reference's
    * DELETE-then-reinsert semantic, `pg_init_covid19.sql:113`). Re-running
    * any sub-range replaces exactly those partitions; other days' files
    * are never touched, and a date whose gate fails keeps its old files.
    * The date loop is orchestration (Airflow's scheduler role) — the
    * per-date WORK is fully distributed, so driver-side iteration is
    * correct at any scale. Each date makes one fetch per (date, country)
    * and writes one file; nothing is persisted. Over the connector a date
    * is one SQL execution of one job of ONE task: the scan is one
    * partition whose reader has the date's fetches in flight together,
    * the connector answers `forDate`'s predicate, and the rank reads
    * through `coalesce(1)`, so fetch, parse, rank and write run in one
    * pipeline with no exchange (and no date literal in generated code:
    * every date reuses the first date's compiled classes).
    *
    * @param stageFor  per-date stage source (default: the deterministic
    *                  fixture; production: the DSv2 connector for that ds)
    * @param onFailure notification hook, the reference's
    *                  `on_failure_callback` (`dags/ETL_covid19_pandas.py:
    *                  97-110`); invoked before the error propagates
    * @return the dates successfully landed, in order
    */
  def runRange(spark: SparkSession, ds0: String, ds1: String, lakePath: String,
               stageFor: String => DataFrame = null,
               expectedRows: Long = 240, tolerance: Double = 0.02,
               onFailure: (String, Throwable) => Unit = (_, _) => ()): Seq[String] = {
    import java.time.LocalDate
    val d0 = LocalDate.parse(ds0)
    val d1 = LocalDate.parse(ds1)
    require(!d1.isBefore(d0), s"empty backfill range [$ds0, $ds1]")
    val stage0: String => DataFrame =
      if (stageFor != null) stageFor else ds => CovidFixture.stage(spark, ds)
    Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1))
      .map(_.toString).map { ds =>
        try {
          val (observed, obs) = observedFlat(stage0(ds), ds)
          // the gate runs only after the write returned, so it never waits
          // on an Observation a failed write left empty
          Sinks.replaceDatePartition(Mart.rankKeyedFact(observed), lakePath, ds)(
            Quality.observedCountGate(obs, expectedRows, tolerance))
          ds
        } catch {
          case e: Throwable => onFailure(ds, e); throw e
        }
      }.toList
  }
}

/** Deterministic covid-shaped stage fixture (FIXTURES.md §1): 5 countries x
  * 48 provinces for one date + junk provinces (Unknown / Recovered / NULL)
  * that the P5 filter must drop. No randomness — reproducible across runs. */
object CovidFixture {
  val isoCountries: Seq[(String, String)] = Seq(
    "CHN" -> "China", "RUS" -> "Russia", "USA" -> "US",
    "IND" -> "India", "BRA" -> "Brazil")

  /** One report object; a NULL `province` is written as JSON `null`. */
  private[graft] def report(ds: String, iso: String, country: String,
                            province: String, i: Int): ObjectNode = {
    val confirmed = 1000L + i * 37
    val deaths = 10L + i
    val recovered = 500L + i * 11
    val r = Json.obj().put("date", ds)
      .put("active", confirmed - deaths - recovered).put("deaths", deaths)
      .put("confirmed", confirmed).put("recovered", recovered)
      .put("active_diff", i % 7).put("deaths_diff", i % 3)
      .put("confirmed_diff", i % 11).put("recovered_diff", i % 5)
      .put("last_update", s"$ds 23:59:59")
      .put("fatality_rate", deaths.toDouble / confirmed)
    val region = r.putObject("region").put("iso", iso)
      .put("lat", 10.0 + i * 0.5).put("long", 20.0 + i * 0.25).put("name", country)
    region.putArray("cities").add(s"c${i}a").add(s"c${i}b")
    region.put("province", province)
    r
  }

  /** The full `{"data": [...]}` envelope for one (date, iso) — the payload
    * the reference's HTTP extract lands (also generated by the DSv2
    * connector, [[graft.sources.CovidReportSource]]). */
  private[graft] def envelope(ds: String, iso: String, country: String,
                              countryIdx: Int, provincesPerCountry: Int): String = {
    val ci = countryIdx
    val real = (0 until provincesPerCountry).map(i =>
      report(ds, iso, country, s"${country}_Prov_$i", ci * 100 + i))
    // Junk rows the cleanup filter must drop (reference
    // spark_transform_data.py:57): Unknown, Recovered, NULL province.
    val junk = Seq(
      report(ds, iso, country, "Unknown", ci * 100 + 98),
      report(ds, iso, country, "Recovered", ci * 100 + 99),
      report(ds, iso, country, null, ci * 100 + 97))
    val data = Json.obj()
    data.putArray("data").addAll((real ++ junk).asJava)
    Json.mapper.writeValueAsString(data)
  }

  /** One stage row per (date, iso): the JSON envelope `{"data": [...]}`. */
  def stage(spark: SparkSession, ds: String = "2023-03-02",
            provincesPerCountry: Int = 48): DataFrame = {
    import org.apache.spark.sql.Row
    val rows = isoCountries.zipWithIndex.map { case ((iso, country), ci) =>
      Row(ci.toLong, java.sql.Date.valueOf(ds), iso,
        envelope(ds, iso, country, ci, provincesPerCountry))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), CovidSchemas.stageSchema)
  }
}
