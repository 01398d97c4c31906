package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schemas.CovidSchemas

/** Composable covid-transform operators (SURVEY.md §2.2/§2.3).
  *
  * Each is a pure `DataFrame => DataFrame`; the reference semantics they
  * reproduce are cited per method. Together they replay the flagship
  * transform `spark_transform_data.py:17-58` — but declaratively, letting
  * Catalyst push the date filter to the scan and prune unread JSON columns.
  */
object CovidOps {

  /** P1: pull the `data` array out of the JSON envelope
    * (reference `spark_transform_data.py:24`: `json_data -> 'data'`). */
  def extractDataArray(stage: DataFrame): DataFrame =
    stage.select(
      col("date_of_data"), col("iso_country"),
      get_json_object(col("json_data"), "$.data").as("json"))

  /** P6: increment selection — one logical date per run
    * (`WHERE date_of_data = ds`, reference `spark_transform_data.py:24`).
    * At scale this is partition pruning on a date-partitioned table; the
    * covid connector answers it itself, so no Filter stays above its scan. */
  def forDate(ds: String)(stage: DataFrame): DataFrame =
    stage.filter(col("date_of_data") === to_date(lit(ds)))

  /** P2 + L1: schema-applied JSON parse then explode — one row per region
    * report (reference `spark_transform_data.py:49-51`,
    * `jsonb_populate_recordset` analog `pg_init_covid19.sql:124`). */
  def parseAndExplode(staged: DataFrame): DataFrame =
    staged
      .select(from_json(col("json"), CovidSchemas.reportArraySchema).as("json"))
      .select(explode(col("json")).as("col"))

  /** P3 + P4 + P7: nested-field projection to the 14-column contract with
    * renames date->day_of_data, region.name->country_name; drops
    * region.cities / last_update / region.iso by not selecting them
    * (reference `spark_transform_data.py:53-58`,
    * composite access `pg_init_covid19.sql:120-123`). */
  def projectFlat(exploded: DataFrame): DataFrame =
    exploded.select(
      col("col.date").as("day_of_data"),
      col("col.active").as("active"),
      col("col.deaths").as("deaths"),
      col("col.confirmed").as("confirmed"),
      col("col.recovered").as("recovered"),
      col("col.active_diff").as("active_diff"),
      col("col.deaths_diff").as("deaths_diff"),
      col("col.confirmed_diff").as("confirmed_diff"),
      col("col.recovered_diff").as("recovered_diff"),
      col("col.fatality_rate").as("fatality_rate"),
      col("col.region.province").as("region_name"),
      col("col.region.name").as("country_name"),
      col("col.region.lat").as("lat"),
      col("col.region.long").as("long"))

  /** P5: drop junk provinces. Reference semantics
    * (`spark_transform_data.py:57`) use `!=` conjunction, which also drops
    * NULL provinces — we preserve exactly that (SURVEY.md §7.3). */
  def dropJunkProvinces(flat: DataFrame): DataFrame =
    flat.filter(col("region_name") =!= "Unknown" && col("region_name") =!= "Recovered")

  /** P8: conform to the exact output contract (pandas
    * `reindex(columns=target_fields)` analog,
    * `dags/ETL_covid19_pandas.py:80-85`). */
  def conform(df: DataFrame, contract: Seq[String] = CovidSchemas.flatContract): DataFrame =
    df.select(contract.map(col): _*)

  /** The full flagship transform: stage rows for one date -> clean flat rows.
    * Replays `spark_transform_data.py:17-58` + pandas/SQL variants. */
  def flatten(stage: DataFrame, ds: String): DataFrame = {
    val staged = extractDataArray(forDate(ds)(stage))
    conform(dropJunkProvinces(projectFlat(parseAndExplode(staged))))
  }
}
