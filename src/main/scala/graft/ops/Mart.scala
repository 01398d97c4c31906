package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Star-schema load: surrogate keying + fact projection + FK integrity
  * (SURVEY.md §2.4 J1/J3, reference `pg_init_covid19.sql:144-188`).
  */
object Mart {

  /** J1: fill date_key + region_key on the flat table. The reference does two
    * in-place UPDATEs (`pg_init_covid19.sql:148-160`); Spark expresses the
    * same as a broadcast left join — left (not inner) because the reference
    * UPDATE leaves unmatched rows with NULL keys. The region dim is tiny
    * (237 rows in the reference) so `broadcast` is explicit: no shuffle of
    * the fact side at any scale.
    *
    * Documented divergence (like A3's missing DISTINCT): the reference joins
    * on region_name ALONE, which fans out fact rows when the same province
    * name exists under several countries (real feeds: 'Amazonas' in Brazil /
    * Colombia / Peru). We join on (region_name, country_name) — the actual
    * natural key of the dim — so each fact row matches at most one region. */
  def withSurrogateKeys(flat: DataFrame, regionDim: DataFrame): DataFrame =
    flat
      .withColumn("date_key", Dims.dateKey(col("day_of_data")))
      .join(
        broadcast(regionDim.select(
          col("region_key"), col("region_name"), col("country_name"))),
        Seq("region_name", "country_name"), "left")

  /** The 10 measures + lat/long, in fact-column order. */
  private val measures = Seq(
    "active", "deaths", "confirmed", "recovered",
    "active_diff", "deaths_diff", "confirmed_diff", "recovered_diff",
    "fatality_rate", "lat", "long").map(col)

  /** Fact projection: 10 measures + 2 FK keys
    * (reference `pg_init_covid19.sql:168-188`). */
  def factCovid(keyed: DataFrame): DataFrame =
    keyed.select(measures ++ Seq(
      col("date_key"), col("region_key").cast("int").as("region_key")): _*)

  /** The fact of one batch of flattened rows keyed WITHOUT a join, for the
    * dim [[Dims.regionDim]] derives from the same rows: `region_key` is
    * `dense_rank()` over (country_name, region_name), which numbers the
    * distinct natural keys in the order the dim's `row_number()` does, so
    * it is exactly the key the dim assigns. A row with a NULL natural-key
    * part gets a NULL key, as [[withSurrogateKeys]]' left join cannot match
    * it. Equal as a multiset to
    * `factCovid(withSurrogateKeys(flat, Dims.regionDim(flat)))`, without
    * the dim's aggregate, the broadcast or the join; one `select`, so the
    * analyzer runs once.
    *
    * The window has no partition: the batch is ranked in one task, which
    * is the dim's own single-partition window (a date is hundreds of
    * rows). The input is read through `coalesce(1)`, whose single
    * partition meets the window's requirement with no exchange, so the
    * rows are produced, ranked and consumed in that one task; an input
    * of several partitions is computed in it too. For keys against a dim
    * built elsewhere (seeded, upserted), use [[withSurrogateKeys]]. */
  def rankKeyedFact(flat: DataFrame): DataFrame = {
    val country = col("country_name")
    val region = col("region_name")
    val regionKey = when(country.isNotNull && region.isNotNull,
      dense_rank().over(Window.orderBy(country, region)))
    flat.coalesce(1).select(measures ++ Seq(
      Dims.dateKey(col("day_of_data")).as("date_key"),
      regionKey.cast("int").as("region_key")): _*)
  }

  /** J3: FK integrity as a post-write check — Spark has no FK constraints
    * (`pg_init_covid19.sql:78-79`), so orphan keys are detected with a
    * left_anti join (broadcast on the dim side). Returns orphan rows;
    * callers assert isEmpty. */
  def fkOrphans(fact: DataFrame, dim: DataFrame, key: String): DataFrame =
    fact.join(broadcast(dim.select(col(key))), Seq(key), "left_anti")
}
