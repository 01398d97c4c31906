package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality gate (SURVEY.md §2.5 A1/A2).
  *
  * Reproduces the reference's `SQLValueCheckOperator` semantics: pass iff
  * |actual - expected| <= tolerance * expected
  * (reference `dags/ETL_covid19_spark.py:102-108`, pass_value=240,
  * tolerance=0.02). Driver-side control flow around one distributed
  * aggregate — by design, not an aggregate UDAF (SURVEY.md §2.9).
  */
object Quality {

  final case class QualityCheckFailure(
      actual: Double, expected: Double, tolerance: Double)
    extends RuntimeException(
      s"quality check failed: actual=$actual not within " +
        s"${tolerance * 100}% of expected=$expected")

  def withinTolerance(actual: Double, expected: Double, tolerance: Double): Boolean =
    math.abs(actual - expected) <= tolerance * expected

  /** The gate's decision on a count already taken: returns `actual` when it
    * is within `tolerance` of `expected`, throws [[QualityCheckFailure]]
    * otherwise. Every count gate below throws through here. */
  def checkCount(actual: Long, expected: Long, tolerance: Double): Long = {
    if (!withinTolerance(actual.toDouble, expected.toDouble, tolerance))
      throw QualityCheckFailure(actual.toDouble, expected.toDouble, tolerance)
    actual
  }

  /** A1+A2: filtered COUNT with relative-tolerance assertion; throws on
    * failure (the reference fails the Airflow task; we fail the pipeline). */
  def countGate(df: DataFrame, expected: Long, tolerance: Double): Long =
    checkCount(df.count(), expected, tolerance)

  /** [[countGate]] without its own job: the count is the `n_rows` metric of
    * a [[withObservedStats]] Observation, so the action that filled `obs`
    * must have completed (`obs.get` blocks until it has). */
  def observedCountGate(obs: org.apache.spark.sql.Observation, expected: Long,
                        tolerance: Double): Long =
    checkCount(obs.get("n_rows").asInstanceOf[Long], expected, tolerance)

  /** Zero-extra-pass quality metrics via the [[org.apache.spark.sql.Observation]]
    * API: attaches row count + per-column null counts to `df` so they are
    * collected AS A SIDE EFFECT of whatever action the caller already
    * runs — at 100 TB the difference between this and [[profile]] is a
    * whole extra scan of the input. `profile` remains the right tool for
    * grouped/min-max reports; this is the always-on telemetry a pipeline
    * attaches to its write. Read the metrics from the returned Observation
    * AFTER the action completes (`obs.get`). */
  def withObservedStats(df: DataFrame, nullChecked: Seq[String],
                        name: String = "quality")
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    val aggs: Seq[Column] =
      count(lit(1)).as("n_rows") +:
        nullChecked.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"))
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** Column-level quality profile per group: row count, per-column null
    * counts, and numeric min/max — everything a corpus intake gate alerts
    * on, in ONE pass / one shuffle (all aggregates share the groupBy).
    * Exact aggregates only, so the result is engine-portable (q33's DuckDB
    * oracle hash-matches it). */
  def profile(df: DataFrame, groupBy: Seq[String], nullChecked: Seq[String],
              minMax: Seq[String]): DataFrame = {
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_rows")) ++
        nullChecked.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")) ++
        minMax.flatMap(c => Seq(
          min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    df.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A row-level contract: a row violates when `predicate` is not TRUE
    * (SQL CHECK inverts this — UNKNOWN passes a CHECK — so a not-null rule
    * must say `col.isNotNull` explicitly; counting not-TRUE keeps nullable
    * range rules like `price > 0` strict, which is what an intake gate
    * wants). */
  final case class RowRule(name: String, predicate: Column)

  /** Key-uniqueness contract: violations = surplus rows beyond the first
    * per non-null key group (rows with any NULL key column are exempt —
    * they can't collide in SQL semantics either). */
  final case class UniqueRule(name: String, keys: Seq[String])

  /** Referential contract: child rows (with fully non-null keys — NULL FKs
    * are legal) that match no parent row. */
  final case class FkRule(name: String, keys: Seq[String],
                          parent: DataFrame, parentKeys: Seq[String])

  /** Declarative data-contract checks (the dbt-test / expectations family):
    * evaluates every rule and returns one row per rule —
    * `(rule, n_violations, n_checked)` — instead of throwing, so a pipeline
    * can gate on the result, write it to an audit table, or alert.
    *
    * Plan shape: ALL row rules fuse into ONE aggregate pass over `df`
    * (conditional sums sharing the scan), expanded to rows by a narrow
    * `inline` over the single agg row. Each unique rule is one hash
    * aggregate on its key (map-side combined); each FK rule is one
    * left-anti join carrying only the key columns — at 100 TB the payload
    * never moves, and Catalyst/AQE picks broadcast vs shuffle by parent
    * size. Exact integer counts only: the audit row is engine-portable
    * (q75's DuckDB oracle hash-matches it). */
  def expectations(df: DataFrame, rowRules: Seq[RowRule],
                   uniqueRules: Seq[UniqueRule] = Nil,
                   fkRules: Seq[FkRule] = Nil): DataFrame = {
    require(rowRules.nonEmpty || uniqueRules.nonEmpty || fkRules.nonEmpty,
      "expectations: at least one rule required")
    val rowPart: Seq[DataFrame] =
      if (rowRules.isEmpty) Nil
      else {
        val aggs = rowRules.map(r =>
          coalesce(sum(when(r.predicate, 0L).otherwise(1L)), lit(0L))
            .as(s"__v_${r.name}")) :+ count(lit(1)).as("__n")
        Seq(df.agg(aggs.head, aggs.tail: _*)
          .select(inline(array(rowRules.map(r => struct(
            lit(r.name).as("rule"),
            col(s"__v_${r.name}").as("n_violations"),
            col("__n").as("n_checked"))): _*))))
      }
    val uniquePart = uniqueRules.map { u =>
      df.filter(u.keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(u.keys.map(col): _*).agg(count(lit(1)).as("__n"))
        .agg(
          coalesce(sum(col("__n") - 1L), lit(0L)).as("n_violations"),
          coalesce(sum(col("__n")), lit(0L)).as("n_checked"))
        .select(lit(u.name).as("rule"), col("n_violations"), col("n_checked"))
    }
    val fkPart = fkRules.map { f =>
      val child = df
        .filter(f.keys.map(col(_).isNotNull).reduce(_ && _))
        .select(f.keys.map(col): _*).alias("__c")
      val parent = f.parent.select(f.parentKeys.map(col): _*).alias("__p")
      val cond = f.keys.zip(f.parentKeys)
        .map { case (c, p) => col(s"__c.$c") === col(s"__p.$p") }
        .reduce(_ && _)
      child.join(parent, cond, "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .crossJoin(child.agg(count(lit(1)).as("n_checked")))
        .select(lit(f.name).as("rule"), col("n_violations"), col("n_checked"))
    }
    (rowPart ++ uniquePart ++ fkPart).reduce(_ unionByName _)
  }
}
