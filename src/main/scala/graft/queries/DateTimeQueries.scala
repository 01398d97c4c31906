package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Dims
import graft.sources.Tables

/** Date/scalar-function inventory (SURVEY.md §2.7 F1-F10), JSON extraction
  * (P1/P2), global sort/limit, and the streaming-shaped batch twins over the
  * `events` fixture (tumbling-window agg + sessionization, SURVEY.md §2.8).
  */
object DateTimeQueries {

  /** S8 + F1-F10: the date-dimension generator as a query — declarative
    * `sequence` + `explode` replaces the reference's plpgsql day loop
    * (`pg_init_covid19.sql:192-237`). Two years keeps the verify dump small;
    * the full reference range (36,890 rows) is covered by DimsSpec. */
  def q10DateDim(spark: SparkSession, dir: String): DataFrame =
    Dims.dateDim(spark, "2022-01-01", "2023-12-31")

  /** P1/P2 over events.props: schema-applied JSON parse (from_json with an
    * explicit schema — never inference in production paths, SURVEY.md §1.3),
    * then grouped aggregation on the extracted field. */
  def q11JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"))

  /** P1/P2 via Spark 4 VariantType — the closer analog of the reference's
    * jsonb stage column (SURVEY.md §1.2): `parse_json` decodes once into
    * the binary variant encoding, then `variant_get` extracts typed paths
    * WITHOUT re-parsing text per access — at scale a stage table is read
    * by many extractions and the parse-once encoding is the difference
    * between one and N text parses. Same aggregate contract as q11 (the
    * from_json path) so the two JSON routes cross-check each other. */
  def q45VariantJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        variant_get(parse_json(col("props")), "$.k", "int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k").cast("bigint")).as("sum_k"),
        max(col("k")).as("max_k"))

  /** Time-series resample + gap fill: per-user hourly grid (sequence +
    * explode spans ONLY each user's [first, last] hour — no global
    * calendar cross join) with last-observation-carried-forward. The
    * spine generation is a Generator (narrow), the fill is one window
    * over the same user_id partitioning the resample agg already
    * established — one shuffle end to end. (user_id, ts) is unique in
    * the fixture so max_by is deterministic. */
  def q52GapFill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).filter(col("user_id") < 30)
    val hourly = e
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(max_by(col("value"), col("ts")).as("value"))
    val spine = hourly
      .groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        col("value").isNull.as("gap_filled"),
        last(col("value"), ignoreNulls = true).over(w).as("value_filled"))
  }

  /** Trailing time-range features — the feature-engineering staple (for
    * each event: activity in the preceding hour): a RANGE window over
    * exact epoch-micros, so the frame is defined by VALUE distance, not
    * row count, and sparse/bursty users get correct answers alike. One
    * shuffle on user_id; the trailing sum uses exact decimals so results
    * are summation-order independent (FP sums over sliding frames differ
    * between engines). */
  def q53TrailingFeatures(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(spark, dir)
      .filter(col("user_id") < 50)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
  }

  /** Global top-n: orderBy + limit compiles to TakeOrderedAndProject —
    * per-partition top-n then a single tiny driver merge; no global sort
    * shuffle at any scale. Deterministic tie-break on the key. */
  def q12SortLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .limit(10)

  /** Tumbling-window aggregation (batch twin of the Structured Streaming
    * windowed agg, SURVEY.md §2.8): hourly event counts + exact decimal sums
    * so results are summation-order independent. */
  def q13HourlyAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Sessionization with a 30-minute inactivity gap (batch twin of
    * flatMapGroupsWithState sessionization): lag-gap boundary flag, then a
    * running sum per user forms the session id. Timestamps are compared in
    * epoch micros so the ns->us parquet truncation is explicit. Scales as a
    * single shuffle on user_id (both windows share the partitioning). */
  def q14Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = 30L * 60 * 1000 * 1000
    Tables.events(spark, dir)
      .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(byUser)))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(run).cast("int"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  /** As-of join: each click joined to the user's most recent prior (or
    * same-instant) purchase — composed union+window ([[graft.ops.AsofJoin]]),
    * verified against DuckDB's NATIVE `ASOF LEFT JOIN`. Epoch-micros output
    * per the ns->us fixture convention. */
  def q32AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    graft.ops.AsofJoin.asofJoin(
      clicks, purchases.withColumn("pts", col("ts")),
      keys = Seq("user_id"), tsCol = "ts", rightVals = Seq("pts", "value"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"),
        unix_micros(col("asof_pts")).as("purchase_us"),
        col("asof_value").as("purchase_value"))
  }

  /** Interval join via bucketized equi-join ([[graft.ops.RangeJoin]]):
    * every event joined to the same-user "incident windows" (deterministic
    * 30-minute intervals seeded from every 97th event) containing it.
    * Hash-matches DuckDB's plain BETWEEN join — same pairs, no
    * nested-loop cross product on the Spark side. */
  def q38IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val incidents = ev.filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("incident_id"), col("user_id"),
        col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("hi"))
    graft.ops.RangeJoin.intervalJoin(
      ev.select(col("event_id"), col("user_id"), col("ts")),
      incidents, leftTs = "ts", lo = "lo", hi = "hi",
      keys = Seq("user_id"), bucket = 600L)
      .select(col("event_id"), col("incident_id"), col("user_id"),
        unix_micros(col("ts")).as("ev_us"),
        unix_micros(col("lo")).as("lo_us"))
  }

  /** Strict-order funnel (view → click → purchase): earliest view, then
    * earliest click AFTER that view, then earliest purchase AFTER that
    * click, per user — the product-analytics staple where each stage's
    * clock starts at the previous stage's event. Three filtered min-
    * aggregations chained by (ts > prev_ts) joins; every aggregation and
    * join clusters on user_id, so AQE reuses one user partitioning across
    * the chain and per-task state is three timestamps per user (never an
    * event list). Stage timestamps emit as epoch micros (ns→us parquet
    * truncation is explicit, q14's convention). */
  def q62Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("view_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("view_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("click_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        (lit(1)
          + when(col("click_ts").isNotNull, 1).otherwise(0)
          + when(col("purchase_ts").isNotNull, 1).otherwise(0))
          .cast("int").as("stage"))
  }

  /** Cohort retention: users grouped by first-seen date, counted on each
    * later activity day as an offset from their cohort day — the
    * engagement decay curve. Distinct (user, day) first (map-side
    * combined), then one user_id join to attach cohorts, then the tiny
    * (cohort, offset) count. Dates emit as ISO strings. */
  def q63CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val firsts = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort_date"))
    ev.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .join(firsts, Seq("user_id"))
      .select(col("cohort_date"),
        datediff(col("d"), col("cohort_date")).cast("int").as("day_offset"))
      .groupBy(col("cohort_date"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("cohort_date").cast("string").as("cohort_date"),
        col("day_offset"), col("n_users"))
  }

  /** Per-group linear regression + correlation (value vs hour-of-month),
    * computed the only way that is DETERMINISTIC on a cluster: exact
    * integer moments first, floating point last. Double-summed corr/regr
    * aggregates give partition-order-dependent last bits, so instead x is
    * an exact small int (hours since 2024-01-01) and y is value quantized
    * to exact thousandths; the five moment sums are BIGINT (overflow-safe
    * at these magnitudes — at open scale, DECIMAL(38,0)); slope/intercept/
    * corr then come from identical scalar double expressions in both
    * engines. Analytically equal to regr_slope/regr_intercept/corr on the
    * quantized series. One map-side-combined shuffle. */
  def q64Regression(spark: SparkSession, dir: String): DataFrame = {
    val hoursEpoch2024 = 473352L // epoch('2024-01-01') / 3600
    val ev = Tables.events(spark, dir).select(col("event_type"),
      (floor(unix_micros(col("ts")) / lit(3600000000L)) - hoursEpoch2024).as("x"),
      round(col("value") * 1000, 0).cast("long").as("y"))
    val m = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val nd = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxx = col("sxx").cast("double"); val sxy = col("sxy").cast("double")
    val syy = col("syy").cast("double")
    val slope3 = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    m.select(col("event_type"), col("n"),
      round(slope3 / 1000.0d, 6).as("slope"),
      round((sy / (nd * 1000.0d)) - (slope3 / 1000.0d) * (sx / nd), 6).as("intercept"),
      round((nd * sxy - sx * sy)
        / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6).as("corr"))
  }

  /** Longest consecutive-active-day streak per user — the one query family
    * where the TYPED Dataset API is the right tool (ladder rung (d)):
    * streak length is inherently sequential per group, and a
    * `groupByKey.mapGroups` over the DISTINCT (user, day) rows is clearer
    * and no less scalable than window gymnastics — one shuffle, per-group
    * state bounded by days-in-history (never raw events). The oracle
    * computes the same streaks declaratively via the gaps-and-islands
    * trick (day − row_number constant within a run), cross-checking the
    * imperative fold against relational SQL. */
  def q65Streaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .as[(Long, java.sql.Date)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val days = it.map(_._2.toLocalDate.toEpochDay).toArray.sorted
        var best = 1L
        var cur = 1L
        var i = 1
        while (i < days.length) {
          if (days(i) == days(i - 1) + 1) { cur += 1; if (cur > best) best = cur }
          else cur = 1
          i += 1
        }
        (uid, days.length.toLong, best)
      }
      .toDF("user_id", "n_active_days", "longest_streak")
  }

  /** Robust outlier detection per event_type: modified z-score on the
    * median/MAD (median absolute deviation) — the data-quality gate that
    * survives the skew and fat tails that break mean/stddev z-scores.
    * Exact medians via the sort-based percentile aggregate (order-
    * independent ⇒ cluster-deterministic, q49's machinery); the two tiny
    * per-type stat frames broadcast back onto the event stream, so the
    * scan stays narrow. 1.4826·MAD rescales to σ-equivalents under
    * normality (the standard public constant); nullif guards MAD = 0
    * (NULL rz rows filter out rather than dividing to Infinity). */
  def q68RobustOutliers(spark: SparkSession, dir: String): DataFrame = {
    def median(c: String): Column = expr(s"percentile($c, 0.5D)")
    val ev = Tables.events(spark, dir)
    val med = ev.groupBy(col("event_type"))
      .agg(median("value").as("med"))
    val withMed = ev.join(broadcast(med), Seq("event_type"))
    val mad = withMed
      .groupBy(col("event_type"))
      .agg(median("abs(value - med)").as("mad"))
    withMed.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("event_id"), col("value"),
        round(col("med"), 4).as("med"), round(col("mad"), 4).as("mad"),
        round(abs(col("value") - col("med"))
          / nullif(lit(1.4826d) * col("mad"), lit(0.0d)), 4).as("rz"))
      .filter(col("rz") > 3.0)
  }

  /** q88: CDC snapshot diff — the incremental-lake audit that answers
    * "which keys changed between yesterday's build and today's?". Two
    * snapshot states (last event time per user, as of T1 and T2) are
    * full-outer joined on the key and classified added / updated /
    * unchanged ('removed' can't occur on an append-only log, and the shape
    * covers it via the v2-NULL branch). Snapshot state here is max(ts) —
    * one hash agg each, then one equi-join on user_id; at 100 TB both
    * snapshots partition by the same key so AQE plans a co-located join.
    * Timestamps output as epoch micros (exact integers, no string-format
    * drift between engines). */
  def q88SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def snap(upTo: String, outCol: String) =
      ev.filter(col("ts") < to_timestamp(lit(upTo)))
        .groupBy(col("user_id"))
        .agg(unix_micros(max(col("ts"))).as(outCol))
    snap("2024-01-15 00:00:00", "v1_us")
      .join(snap("2024-01-25 00:00:00", "v2_us"), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(col("v1_us").isNull, lit("added"))
          .when(col("v2_us").isNull, lit("removed"))
          .when(col("v1_us") === col("v2_us"), lit("unchanged"))
          .otherwise(lit("updated")).as("change_type"),
        col("v1_us"), col("v2_us"))
  }

  /** q95: SCD2 history build from an event log — compress each user's
    * event stream into validity intervals [valid_from, valid_to) of their
    * current state (event_type), the slowly-changing-dimension table a
    * warehouse would maintain incrementally. Two windows over the same
    * (user_id, ts) partitioned sort — Catalyst plans ONE sort+window
    * exchange, per-user groups never a global partition. Open intervals
    * (current state) carry NULL valid_to. Epoch-micros output, exact
    * integers in both engines. */
  def q95Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("prev_state", lag(col("event_type"), 1).over(byTs))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(byTs))
      .select(col("user_id"), col("event_type").as("state"),
        col("valid_from_us"), col("valid_to_us"))
  }

  /** q101: first-order Markov transition matrix over each user's event
    * sequence — the behavioral fingerprint (what follows what) that feeds
    * sequence models and anomaly scores. lead() over the per-user time
    * sort pairs consecutive events (one partitioned window), then one
    * count agg on (from, to); the transition probability is normalized
    * per from-state with the integer half-up rule (q100's (2a+b) DIV 2b —
    * round(double) diverges between engines on halves). The per-from
    * totals window partitions on from_type — bounded small groups. */
  def q101MarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val counts = Tables.events(spark, dir)
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        (expr("(2 * n * 10000 + tot) DIV (2 * tot)").cast("double") / lit(1e4))
          .as("p"))
  }

  /** q102: session path strings — each session's event-type sequence
    * flattened to one "view->click->purchase" string, the input to funnel
    * mining and next-action models. Reuses q14's gap sessionization; the
    * path is built per-row-group with collect_list over structs sorted by
    * (ts, event_id) — a TOTAL order, so the string is deterministic even
    * with per-partition arrival disorder. Paths aggregate to
    * (path, n_sessions) — the corpus-level path distribution. */
  def q102SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = 30L * 60 * 1000 * 1000
    Tables.events(spark, dir)
      .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(byUser)))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(run).cast("int"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(concat_ws("->",
        transform(
          array_sort(collect_list(struct(
            unix_micros(col("ts")).as("us"), col("event_id"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
  }

  /** q103: equi-width histogram WITH the empty-bin spine — the
    * fixed-range complement of q72's equi-depth bins: 10 buckets of width
    * 50 over [0, 500) plus an overflow bucket, and absent buckets emitted
    * as zero (a sequence-generated spine left-joined to the counts; a
    * plain GROUP BY silently drops empty bins and plots lie). One count
    * agg + an 11-row broadcast spine join. */
  def q103EquiwidthHist(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables.events(spark, dir)
      .select(least(floor(col("value") / 50.0).cast("int"), lit(10)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val spine = spark.range(0, 11)
      .select(col("id").cast("int").as("bin"))
    spine.join(binned, Seq("bin"), "left")
      .select(col("bin"),
        (col("bin") * 50).cast("double").as("lo"),
        when(col("bin") === 10, lit(null).cast("double"))
          .otherwise((col("bin") * 50 + 50).cast("double")).as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** q107: trailing time-RANGE window aggregate — per event, the 1-hour
    * trailing sum/count of `value` for the same user. The frame is a RANGE
    * (interval) frame over epoch-micros, not a ROWS frame: peers at the
    * boundary are included by time, which is the contract monitoring and
    * feature-engineering pipelines actually want. Value is quantized to
    * integer cents BEFORE the frame sum, so the windowed total is exact
    * integer arithmetic — engine-portable regardless of frame evaluation
    * order. One user_id shuffle; the frame scan is a per-partition
    * two-pointer pass over the sorted run. */
  def q107Trailing1h(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600L * 1000 * 1000, Window.currentRow)
    e.select(col("event_id"), col("user_id"), col("ts_us"),
      (sum(col("cents")).over(w).cast("double") / lit(100.0)).as("trailing_sum"),
      count(lit(1)).over(w).as("trailing_n"))
  }

  /** q110: discrete percentiles + mode per group — completes q49's
    * percentile_cont contract with the DISC form (smallest actual value
    * whose cumulative fraction reaches p; never interpolated, so the
    * output is always a real data point) and a deterministically
    * tie-broken mode (count desc, value asc — engines disagree on raw
    * mode() ties). All selection happens on integer cents and integer
    * cumulative counts (`cum*100 >= tot*p` — no ceil, no FP); one
    * (type, cents) pre-agg shrinks the window input to the distinct-value
    * stream, then one type-partitioned sort serves the cumulative sum,
    * the total, and the mode rank. */
  def q110ValueQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents")).agg(count(lit(1)).as("n"))
    val byVal = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byFreq = Window.partitionBy(col("event_type"))
      .orderBy(col("n").desc, col("cents").asc)
    val cum = counts
      .withColumn("cum", sum(col("n")).over(byVal))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("event_type"))))
      .withColumn("rn", row_number().over(byFreq))
    cum.groupBy(col("event_type"))
      .agg(
        max(col("tot")).as("n_events"),
        min(when(col("cum") * 100 >= col("tot") * 25, col("cents"))).as("p25c"),
        min(when(col("cum") * 100 >= col("tot") * 50, col("cents"))).as("p50c"),
        min(when(col("cum") * 100 >= col("tot") * 90, col("cents"))).as("p90c"),
        max(when(col("rn") === 1, col("cents"))).as("modec"),
        max(when(col("rn") === 1, col("n"))).as("mode_n"))
      .select(col("event_type"), col("n_events"),
        (col("p25c").cast("double") / 100).as("p25"),
        (col("p50c").cast("double") / 100).as("p50"),
        (col("p90c").cast("double") / 100).as("p90"),
        (col("modec").cast("double") / 100).as("mode_value"),
        col("mode_n"))
  }

  /** q114: winsorization audit — per event_type, the p01/p99 discrete
    * thresholds (q110's integer machinery), the rows each tail clips, and
    * the raw vs winsorized totals. The audit a feature pipeline runs
    * BEFORE committing to clipping: if n_clip or the total shift is large,
    * the thresholds are wrong, not the data. Thresholds come off the
    * (type, cents) count agg and broadcast back over the event stream —
    * two scans of events (threshold + clip), the price of any
    * data-dependent clip; all totals are integer cents. */
  def q114Winsorize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val byVal = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = ev.groupBy(col("event_type"), col("cents")).agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(byVal))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(
        min(when(col("cum") * 100 >= col("tot") * 1, col("cents"))).as("lo_c"),
        min(when(col("cum") * 100 >= col("tot") * 99, col("cents"))).as("hi_c"))
    ev.join(broadcast(thr), Seq("event_type"))
      .withColumn("clipped", greatest(col("lo_c"), least(col("hi_c"), col("cents"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cents") < col("lo_c"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("cents") > col("hi_c"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum(col("cents")).as("raw_c"), sum(col("clipped")).as("win_c"),
        max(col("lo_c")).as("lo"), max(col("hi_c")).as("hi"))
      .select(col("event_type"), col("n"), col("n_clip_lo"), col("n_clip_hi"),
        (col("lo").cast("double") / 100).as("p01"),
        (col("hi").cast("double") / 100).as("p99"),
        (col("raw_c").cast("double") / 100).as("raw_sum"),
        (col("win_c").cast("double") / 100).as("winsorized_sum"))
  }

  /** q129: two-sample Kolmogorov–Smirnov statistic — the distribution-
    * equality test behind every A/B guardrail: D = max |ECDF_a − ECDF_b|
    * between click and view values, exact. The candidate set is the
    * distinct-cents spine (the max always lands on a data point); both
    * inclusive cumulative counts ride [[graft.ops.GlobalIndex]] prefix
    * sums (range partition + driver-folded offsets — the spine never funnels
    * through one partition), and the comparison stays integer:
    * |cum_a·n_b − cum_b·n_a| over a common denominator n_a·n_b, divided
    * only in the final row. Output: D, the value where it occurs, and
    * both sample sizes. */
  def q129KsTest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val spine = e.groupBy(col("cents"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("b"))
    val withA = graft.ops.GlobalIndex
      .withGlobalCumSum(spine, Seq(col("cents")), col("a"), "pa")
    val withB = graft.ops.GlobalIndex
      .withGlobalCumSum(withA, Seq(col("cents")), col("b"), "pb")
    val tot = spine.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    withB.crossJoin(broadcast(tot))
      .select(col("cents"), col("na"), col("nb"),
        // inclusive CDF counts: exclusive prefix + own bucket
        abs((col("pa") + col("a")) * col("nb") - (col("pb") + col("b")) * col("na"))
          .as("num"))
      .agg(max(struct(col("num"), col("cents"), col("na"), col("nb"))).as("m"))
      .select(
        // one empty sample -> NULL, not 0/0=NaN (the q60 convention)
        (col("m.num").cast("double")
          / nullif((col("m.na") * col("m.nb")).cast("double"), lit(0.0)))
          .as("ks_d"),
        (col("m.cents").cast("double") / 100).as("at_value"),
        col("m.na").as("n_click"), col("m.nb").as("n_view"))
  }

  /** q130: Benford leading-digit audit — the forensic data-quality check:
    * the distribution of first digits of o_totalprice against Benford's
    * log10(1+1/d) expectation. The digit comes from the INTEGER-CENTS
    * string (same significand, same first digit — while FP log10 at
    * power-of-ten boundaries and decimal formatting's carry at .995 are
    * exactly the edges that diverge between engines); shares use the
    * half-up integer rule; the expectation is the same double expression
    * on both sides. One map-side-combined 9-row aggregate. */
  def q130Benford(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(spark, dir)
      .select(substring(round(col("o_totalprice") * 100).cast("long").cast("string"), 1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("tot"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (expr("(2 * n * 1000000 + tot) DIV (2 * tot)").cast("double") / 1e6)
          .as("observed"),
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
          .as("benford"))
  }

  /** q131: event-rate anomaly vs a trailing baseline — per (type, hour),
    * the z-score of this hour's event count against the STRICTLY PRIOR
    * 24 hours (a RANGE frame ending at −1h, so the tested value never
    * contaminates its own baseline). The algebra stays integer all the
    * way into the sqrt: z = (n·c − s) / √(c·ssq − s²) over the frame's
    * count/sum/sum-of-squares — counts are integers, so the variance
    * numerator is exact and the only FP ops are one sqrt and one divide
    * (identical expression both engines). Degenerate baselines (empty
    * frame, zero variance) emit NULL, never NaN/∞. This is the monitor
    * that pages when a scraper doubles its rate — the streaming twin
    * rides the same hourly aggregate. */
  def q131RateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("n"))
    val hourUs = 3600L * 1000 * 1000
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_us"))
      .rangeBetween(-24 * hourUs, -hourUs)
    hourly
      .withColumn("c", count(lit(1)).over(w))
      .withColumn("s", sum(col("n")).over(w))
      .withColumn("ssq", sum(col("n") * col("n")).over(w))
      .filter(col("c") > 0)
      .select(col("event_type"), col("hour_us"), col("n"),
        (expr("(2 * s * 100 + c) DIV (2 * c)").cast("double") / 1e2)
          .as("baseline_mean"),
        round((col("n") * col("c") - col("s")).cast("double")
          / sqrt(nullif((col("c") * col("ssq") - col("s") * col("s"))
            .cast("double"), lit(0.0))), 4).as("z"))
  }

  /** q132: Mann–Whitney U test (rank-sum) between the click and view
    * value samples — the distribution-free A/B guardrail that, unlike
    * q129's KS statistic, targets a LOCATION shift and has a usable
    * normal approximation. Everything up to the final z is exact
    * integer arithmetic on doubled ranks: per distinct cents value the
    * tied group spans global prefix `pt+1 .. pt+t`, so its doubled
    * average rank is `2·pt + t + 1`; the doubled rank-sum `r2a`,
    * `u2 = 2·U_click`, and the tie term `Σ(t³−t)` are all integers.
    * The prefix sum rides [[graft.ops.GlobalIndex]] (range-partitioned,
    * never a single-partition window), so the value spine scales with
    * the number of DISTINCT values, and the final z is the identical
    * double expression on both engines (one sqrt, two divides).
    * Degenerate inputs (all values tied → zero variance) yield NULL. */
  def q132MannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val spine = e.groupBy(col("cents"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("b"))
      .withColumn("t", col("a") + col("b"))
    graft.ops.GlobalIndex
      .withGlobalCumSum(spine, Seq(col("cents")), col("t"), "pt")
      .agg(
        sum(col("a")).as("na"), sum(col("b")).as("nb"),
        sum(col("a") * (lit(2L) * col("pt") + col("t") + lit(1L))).as("r2a"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      .withColumn("n", col("na") + col("nb"))
      .select(col("na").as("n_click"), col("nb").as("n_view"),
        (col("r2a") - col("na") * (col("na") + lit(1L))).as("u2_click"),
        round(
          ((col("r2a") - col("na") * (col("na") + lit(1L))
            - col("na") * col("nb")).cast("double") / lit(2.0))
            / nullif(sqrt(
                (col("na") * col("nb")).cast("double") / lit(12.0)
                  * ((col("n") + lit(1L)).cast("double")
                     - col("ties").cast("double")
                       / (col("n") * (col("n") - lit(1L))).cast("double"))),
              lit(0.0)), 4).as("z"))
  }

  /** q135: Welch's unequal-variance t-test between the click and view
    * value samples — the parametric sibling of q132 (location) and q129
    * (distribution): one conditional-aggregate pass collects n/Σ/Σx² per
    * arm in exact integer cents, so group means, the variance numerators
    * `n·ssq − s²`, and everything else stays integer until the final t
    * and Welch–Satterthwaite dof expressions (identical double algebra
    * on both engines). One map-side-combined scan; no shuffle of rows,
    * only of two partial-agg states — the cheapest possible test at any
    * corpus size. Degenerate arms (n < 2, zero variance) emit NULL. */
  def q135WelchTtest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
    // 128-bit widening (decimal(38,0) / oracle HUGEINT): the q sums are
    // Σc² over the corpus and the variance numerators multiply them by n
    // again — n·q ≈ n²·c̄² blows past 2⁶³ at the 100× ladder rung (first
    // measured failure: 10M events → n·q ≈ 7e22), and Σc² alone would at
    // 10¹¹ rows. Same integers, same truncating DIV, same final double —
    // only the overflow ceiling moves (~1e38).
    def side(t: String, k: String) = Seq(
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n$k"),
      sum(when(col("event_type") === t, col("c")).otherwise(0L)).as(s"s$k"),
      sum(when(col("event_type") === t,
        (col("c") * col("c")).cast("decimal(38,0)"))
        .otherwise(lit(0).cast("decimal(38,0)"))).as(s"q$k"))
    val sides = side("click", "1") ++ side("view", "2")
    val agg = e.agg(sides.head, sides.tail: _*)
    def dec38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    // vi/ni in cents² — sample variance over n: (n·q − s²) / (n·(n−1)) / n;
    // the denominator is NULL-guarded so an n<2 arm yields NULL t/dof
    // (the q60 convention: NULL, never 0/0 = NaN)
    def vOverN(k: String) =
      (dec38(col(s"n$k")) * col(s"q$k") - dec38(col(s"s$k")) * col(s"s$k"))
        .cast("double") /
        nullif((dec38(col(s"n$k")) * (col(s"n$k") - lit(1L)) * col(s"n$k"))
          .cast("double"), lit(0.0))
    val se2 = vOverN("1") + vOverN("2")
    agg.select(
      col("n1").as("n_click"), col("n2").as("n_view"),
      (expr("(2 * CAST(s1 AS DECIMAL(38,0)) * 100 + n1) DIV (2 * n1)")
        .cast("double") / 1e2).as("mean_click"),
      (expr("(2 * CAST(s2 AS DECIMAL(38,0)) * 100 + n2) DIV (2 * n2)")
        .cast("double") / 1e2).as("mean_view"),
      round((col("s1").cast("double") / col("n1").cast("double")
        - col("s2").cast("double") / col("n2").cast("double"))
        / nullif(sqrt(se2), lit(0.0)), 4).as("t"),
      round(se2 * se2 / nullif(
        vOverN("1") * vOverN("1") / (col("n1") - lit(1L)).cast("double")
          + vOverN("2") * vOverN("2") / (col("n2") - lit(1L)).cast("double"),
        lit(0.0)), 2).as("dof"))
  }

  /** q136: exact ROC-AUC of the value column as a score separating
    * purchase (positive) from error (negative) events — THE offline
    * model-eval metric, computed exactly at corpus scale: AUC is
    * U/(n⁺·n⁻) (the probability a random positive outscores a random
    * negative, ties counting ½), so q132's doubled-rank machinery gives
    * an all-integer numerator `2U = R2⁺ − n⁺(n⁺+1)` over the distinct-
    * score spine; the single division at the end is the only FP step.
    * No sort of raw rows, no per-row window — the spine scales with
    * distinct scores, not events. */
  def q136Auc(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val spine = e.groupBy(col("cents"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("b"))
      .withColumn("t", col("a") + col("b"))
    graft.ops.GlobalIndex
      .withGlobalCumSum(spine, Seq(col("cents")), col("t"), "pt")
      .agg(
        sum(col("a")).as("na"), sum(col("b")).as("nb"),
        sum(col("a") * (lit(2L) * col("pt") + col("t") + lit(1L))).as("r2a"))
      .select(col("na").as("n_pos"), col("nb").as("n_neg"),
        (col("r2a") - col("na") * (col("na") + lit(1L))).as("u2"),
        round((col("r2a") - col("na") * (col("na") + lit(1L))).cast("double")
          / nullif((lit(2L) * col("na") * col("nb")).cast("double"), lit(0.0)),
          6).as("auc"))
  }

  /** q137: leakage-safe GROUP-level split — every event of a user lands
    * in the same train/val/test split because the assignment hashes
    * user_id, not the row ([[graft.ops.Sampling.split]]'s md5-prefix
    * rule). Row-level splits (q40) leak entity signal across folds; this
    * is the split an eval pipeline must use when rows cluster by user/
    * document/session. Output per split: users, events, and value total
    * in integer cents — the class-balance sanity check that runs right
    * after splitting. Distinct-count shuffles carry (split, user) pairs
    * deduplicated map-side, never raw events. */
  def q137GroupedSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(graft.ops.Sampling.split(col("user_id")).as("split"),
        col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("split"))
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("cents_total"))

  /** q145: time-weighted average value (TWAP) per event type — each
    * event's value is weighted by the SECONDS it was the user's current
    * value (gap to that user's next event; the user's last event carries
    * no weight). The metric billing/position systems actually need, and
    * the one plain AVG silently gets wrong when events cluster. Exact
    * integer algebra: weights in whole seconds (micros DIV 1e6 — second
    * resolution is part of the contract), values in cents, so Σ(w·cents)
    * and Σw are exact and the single division is the only FP step. One
    * per-user lead() window (thousands of small partitions) + one
    * map-side-combined aggregate. */
  def q145Twap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("w_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("w_us").isNotNull)
      .withColumn("w_sec", expr("w_us DIV 1000000"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_weighted"),
        sum(col("w_sec")).as("w_total_sec"),
        sum(col("w_sec") * col("cents")).as("wc"))
      .select(col("event_type"), col("n_weighted"), col("w_total_sec"),
        round(col("wc").cast("double")
          / nullif(col("w_total_sec").cast("double"), lit(0.0)) / 1e2, 4)
          .as("twap"))
  }

  /** q146: first-touch conversion attribution — q14's 30-min-gap
    * sessions, each attributed to the CHANNEL of its first event
    * ((ts, event_id) total order, so simultaneous arrivals break ties
    * identically everywhere), rolled up to per-channel sessions,
    * converted sessions (≥1 purchase), and attributed revenue in exact
    * cents. The marketing question ("which entry point pays?") asked of
    * an event stream; all state rides the per-user session window plus
    * one map-side-combined rollup. */
  def q146Attribution(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = 30L * 60 * 1000 * 1000
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("event_type"))).as("f"),
        sum(when(col("event_type") === "purchase", col("cents")).otherwise(0L))
          .as("rev"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .groupBy(col("f.event_type").as("channel"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("conv")).as("conv_sessions"),
        sum(col("rev")).as("revenue_cents"))
      .select(col("channel"), col("n_sessions"), col("conv_sessions"),
        col("revenue_cents"),
        (expr("(2 * conv_sessions * 10000 + n_sessions) DIV (2 * n_sessions)")
          .cast("double") / lit(1e4)).as("conv_share"))
  }

  /** q147: RFM segmentation — per user, recency (days since last event,
    * relative to the corpus max timestamp so the query is a pure function
    * of the data), frequency (events), monetary (purchase cents), each
    * cut into integer-threshold segments (explicit CASE ladders — the
    * portable form of "quantile buckets" when the contract must be
    * stable across runs AND engines), rolled up to segment counts. The
    * classic lifecycle report, exact at any scale: one aggregate per
    * user + a broadcast corpus-max + one tiny rollup. */
  def q147RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L).as("pcents"))
    val perUser = e.groupBy(col("user_id"))
      .agg(max(col("ts_us")).as("last_us"), count(lit(1)).as("freq"),
        sum(col("pcents")).as("monetary"))
    val corpusMax = perUser.agg(max(col("last_us")).as("max_us"))
    val dayUs = 86400L * 1000 * 1000
    perUser.crossJoin(broadcast(corpusMax))
      .withColumn("rec_days", expr(s"(max_us - last_us) DIV $dayUs"))
      .withColumn("r_seg", when(col("rec_days") <= 7, "r1_active")
        .when(col("rec_days") <= 30, "r2_recent").otherwise("r3_lapsed"))
      .withColumn("f_seg", when(col("freq") >= 40, "f1_heavy")
        .when(col("freq") >= 10, "f2_regular").otherwise("f3_light"))
      .withColumn("m_seg", when(col("monetary") >= 10000, "m1_high")
        .when(col("monetary") >= 1000, "m2_mid").otherwise("m3_low"))
      .groupBy(col("r_seg"), col("f_seg"), col("m_seg"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("monetary")).as("monetary_cents"))
  }

  /** q161: linear interpolation of missing hourly observations per event
    * type — the time-series twin of q52's LOCF fill. Per type: last
    * observation per hour (arg-max, no division), a generated hour spine
    * over the observed span, bracketing observations via ignoreNulls
    * last/first over two PARTITIONED windows (one shuffle on event_type,
    * bounded by #types x span — never a global sort), then the
    * interpolated value in integer cents. Exactness: the fractional
    * prev + (next-prev)*dt1/dtn is evaluated as one integer half-up
    * division, shifted by K*dtn (K=100000 > any |next-prev| in cents) so
    * the numerator stays positive — floor and truncate agree, making the
    * rounding engine-portable even when the series slopes down. Spine
    * edges are observed hours, so both brackets always exist. */
  def q161Interpolate(spark: SparkSession, dir: String): DataFrame = {
    // tie-break on (ts, event_id): grouping is (event_type, hour), so two
    // USERS can share (event_type, ts) — ts alone leaves max_by arbitrary
    // and cross-engine verification nondeterministic. event_id is unique.
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("v"))
      .withColumn("units", round(col("v") * 100).cast("long"))
      .drop("v")
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(hourly, Seq("event_type", "hour"), "left")
      .withColumn("hh", expr("unix_seconds(hour) DIV 3600"))
      .withColumn("pu", last(col("units"), ignoreNulls = true).over(wPrev))
      .withColumn("ph", last(when(col("units").isNotNull, col("hh")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nu", first(col("units"), ignoreNulls = true).over(wNext))
      .withColumn("nh", first(when(col("units").isNotNull, col("hh")),
        ignoreNulls = true).over(wNext))
      .withColumn("value_cents", when(col("units").isNotNull, col("units"))
        .otherwise(col("pu") - lit(100000L) + expr(
          """(2 * ((nu - pu) * (hh - ph) + 100000 * (nh - ph)) + (nh - ph))
            | DIV (2 * (nh - ph))""".stripMargin.replace("\n", ""))))
      .select(col("event_type"), col("hour"),
        col("units").isNull.as("is_interpolated"),
        col("value_cents"),
        (col("value_cents").cast("double") / 100).as("value"))
  }

  /** q162: rapid-repeat suppression — the at-least-once-delivery cleanup
    * every event pipeline runs: an event is suppressed when the PREVIOUS
    * event of the same (user, type) landed within the debounce window
    * (600 s). Lag-based semantics (each event compares to its immediate
    * predecessor, not to the last KEPT one) — declarative, one
    * partitioned window, no iterative chain. Rolled up per type so the
    * output is the monitoring row, not a copy of the stream. */
  def q162RapidRepeats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("suppressed", col("prev_us").isNotNull &&
        unix_micros(col("ts")) - col("prev_us") <= 600L * 1000000L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("suppressed").cast("long")).as("n_suppressed"),
        sum((!col("suppressed")).cast("long")).as("n_kept"))
  }

  /** q164: month-over-month revenue growth per nation — the
    * period-over-period BI staple. Monthly revenue in integer cents, lag
    * over a per-nation window (bounded partitions), growth in basis
    * points via the half-up integer division SHIFTED positive (K=1e7
    * covers swings to 1000x) so Spark's truncating DIV and DuckDB's
    * flooring // agree on revenue declines. First month per nation
    * emits NULL growth (no prior), exactly like the SQL twin.
    * The shifted numerator multiplies monthly cents by 2·10⁷, which
    * crosses int64 at the 1000× rung (caught by the r6 full-suite
    * ladder) — it is evaluated in decimal(38,0) (DuckDB HUGEINT) and
    * only the final bp value, which always fits, casts back to long;
    * the cent sums themselves stay long (int64 carries 100 TB there). */
  def q164MomGrowth(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      // customer scales with SF — no broadcast hint (stats/AQE decide)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("month"))
    monthly
      .withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
      .withColumn("delta_cents", col("rev_cents") - col("prev_cents"))
      .withColumn("growth_bp", expr(
        """(2 * (CAST(delta_cents AS DECIMAL(38,0)) * 10000
          |      + 10000000 * CAST(prev_cents AS DECIMAL(38,0))) + prev_cents)
          | DIV (2 * prev_cents) - 10000000""".stripMargin.replace("\n", "")))
      .select(col("n_name"), col("month"), col("rev_cents"),
        col("prev_cents"), col("delta_cents"), col("growth_bp"))
  }

  /** q165: event-concentration audit (Gini coefficient) — how skewed is
    * activity across users, per event type? The number that says "3% of
    * users generate half the traffic" before that skew breaks a
    * partitioning. Exact-integer form of the sorted-rank formula
    * G = (2*Sigma(i*x_i) - (n+1)*Sigma(x_i)) / (n*Sigma(x_i)): per-user
    * counts are integers, the rank comes from a window partitioned by
    * event_type over (count, user_id) total order (bounded partitions —
    * users per type), and both Gini terms stay integer until one final
    * double division. */
  def q165GiniConcentration(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("x"), col("user_id"))
    counts
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("n_events"),
        sum(col("i") * col("x")).as("rank_weighted"))
      .select(col("event_type"), col("n_users"), col("n_events"),
        (lit(2) * col("rank_weighted") - (col("n_users") + 1) * col("n_events"))
          .as("gini_num"),
        (col("n_users") * col("n_events")).as("gini_den"))
      .withColumn("gini",
        col("gini_num").cast("double") / col("gini_den").cast("double"))
  }

  /** q163: inter-event gap histogram — the distribution that CALIBRATES
    * q14's 1800 s session timeout instead of folklore-picking it. Per
    * user, the gap to the previous event (any type); gaps bucketed on an
    * explicit power-of-two seconds ladder (integer CASE — FP log2
    * diverges exactly at the bucket edges, q143's lesson). One
    * partitioned window + one tiny agg; the histogram is ~17 rows at any
    * corpus size. */
  def q163GapHistogram(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val buckets = (0 to 16).map(i => 1L << i) // 1s .. 65536s
    val ladder = buckets.foldRight(lit(131072L)) { (b, acc) =>
      when(col("gap_us") <= b * 1000000L, lit(b)).otherwise(acc)
    }
    Tables.events(spark, dir)
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("gap_us").isNotNull)
      .withColumn("bucket_s", ladder)
      .groupBy(col("bucket_s"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_us")).as("sum_gap_us"))
  }

  /** q168: tolerance-bounded as-of join — q32 with pandas merge_asof's
    * tolerance: a click only attributes to a purchase within the
    * preceding hour; staler matches become NULL instead of silently
    * attributing across days. Same one-shuffle composed as-of plan; the
    * tolerance is a post-window projection. The oracle gates DuckDB's
    * native ASOF match with the identical predicate — two independent
    * as-of mechanisms must agree row for row. */
  def q168AsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    graft.ops.AsofJoin.asofJoin(
      clicks, purchases.withColumn("pts", col("ts")),
      keys = Seq("user_id"), tsCol = "ts", rightVals = Seq("pts", "value"),
      tolerance = Some(3600L * 1000000L))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"),
        unix_micros(col("asof_pts")).as("purchase_us"),
        col("asof_value").as("purchase_value"))
  }

  /** q170: linear multi-touch attribution — each purchase splits its
    * revenue EQUALLY across the user's view/click touches in the
    * preceding 24 h (q146 gives the whole session to the first touch;
    * linear is the other standard model). The purchase×touch pairing
    * rides RangeJoin.intervalJoin (bucketized equi-join, never a
    * nested-loop); credit is an exact integer split — cents DIV n per
    * touch, remainder to the EARLIEST touch — so per-purchase credits
    * sum to the purchase exactly and the rollup is engine-exact. */
  def q170LinearAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts"),
        col("event_id").as("touch_id"), col("event_type").as("channel"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        round(col("value") * 100).cast("long").as("cents"),
        (col("ts") - expr("INTERVAL 24 HOURS")).as("lo"), col("ts").as("hi"))
    val w = Window.partitionBy(col("purchase_id"))
      .orderBy(col("ts"), col("touch_id"))
    graft.ops.RangeJoin.intervalJoin(
        touches, purchases, "ts", "lo", "hi", Seq("user_id"), 86400L)
      .withColumn("n_touch", count(lit(1)).over(
        Window.partitionBy(col("purchase_id"))))
      .withColumn("rk", row_number().over(w))
      .withColumn("credit_cents",
        expr("cents DIV n_touch") +
          when(col("rk") === 1, expr("cents % n_touch")).otherwise(0L))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("purchase_id")).as("n_purchases"),
        sum(col("credit_cents")).as("credited_cents"))
  }

  /** q171: seasonal-baseline anomaly detection — each (type, date, hour)
    * event count against the mean/std of the SAME (type, weekday, hour)
    * cell across history: the seasonal complement to q131's trailing
    * window (a spiky Monday 9am is normal if every Monday 9am spikes).
    * The |z| > 1.8 gate (z is bounded by sqrt(n_cells-1) ~= 2 with the
    * fixture's ~5 same-weekday-hour history cells, so 2 sigma is
    * unreachable by construction) is evaluated as the exact integer
    * cross-multiplication 25*(c*n - sum)^2 > 81*(n*sum2 - sum^2) — no
    * division, no sqrt, no FP boundary rows; z itself is emitted as the
    * one double for human eyes. Baselines are tiny (type x 7 x 24) and
    * ride a broadcast join back onto the hourly counts. */
  def q171SeasonalResiduals(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        to_date(col("ts")).as("day"),
        dayofweek(col("ts")).as("dow"),
        hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val base = hourly.groupBy(col("event_type").as("bt"), col("dow").as("bd"),
        col("hr").as("bh"))
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("s1"),
        sum(col("cnt") * col("cnt")).as("s2"))
    hourly.join(broadcast(base), col("event_type") === col("bt") &&
        col("dow") === col("bd") && col("hr") === col("bh"))
      .filter(col("n_cells") >= 4 &&
        (col("n_cells") * col("s2") - col("s1") * col("s1")) > 0)
      .withColumn("dev", col("cnt") * col("n_cells") - col("s1"))
      .filter(lit(25) * col("dev") * col("dev") >
        lit(81) * (col("n_cells") * col("s2") - col("s1") * col("s1")))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("hr"), col("cnt"), col("n_cells"), col("s1"), col("s2"),
        (col("dev").cast("double") /
          sqrt((col("n_cells") * col("s2") - col("s1") * col("s1"))
            .cast("double"))).as("z"))
  }

  /** q172: cross-series correlation matrix — Pearson correlation between
    * every pair of event types' DAILY counts (do logins move with
    * purchases?). Days are zero-filled from a (day x type) spine before
    * the moments — a day without purchases is x=0, not missing data
    * (inner-joining common days would bias the estimate up). All five
    * moments are exact integer sums; the only FP is the final
    * numerator/sqrt/divide on integer-derived doubles, identical in both
    * engines; zero-variance series yield NULL via nullif. Types are
    * bounded, so the pair frame is |types|^2 x days — broadcast-scale. */
  def q172TypeCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val spine = daily.select("day").distinct()
      .crossJoin(broadcast(daily.select("event_type").distinct()))
    val filled = spine.join(daily, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("c"), lit(0L)).as("c"))
    val a = filled.select(col("day"), col("event_type").as("type_a"),
      col("c").as("xa"))
    val b = filled.select(col("day"), col("event_type").as("type_b"),
      col("c").as("xb"))
    a.join(b, Seq("day")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
        // the per-day product fits a long at any realistic daily volume
        // (c² ≤ 9e16 even at 3e8 events/day); the SUM is what needs the
        // decimal — Σc² crosses 2⁶³ once daily counts reach ~1e8
        sum((col("xa") * col("xa")).cast("decimal(38,0)")).as("sxx"),
        sum((col("xb") * col("xb")).cast("decimal(38,0)")).as("syy"),
        sum((col("xa") * col("xb")).cast("decimal(38,0)")).as("sxy"))
      .withColumn("corr", {
        // decimal(38,0) widening: the product of the two variance terms is
        // ≈ (n·Σx²)² — past 2⁶³ at the 100× ladder rung (measured ~2e24);
        // exact integers all the way to the final double, ceiling ~1e38
        def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        (d38(col("n_days")) * col("sxy") - d38(col("sx")) * col("sy"))
          .cast("double") /
          nullif(sqrt(((d38(col("n_days")) * col("sxx") - d38(col("sx")) * col("sx")) *
            (d38(col("n_days")) * col("syy") - d38(col("sy")) * col("sy")))
            .cast("double")), lit(0.0))
      })
      // contract columns stay BIGINT (the sums comfortably fit: ≤ ~4e9 at
      // the 100× rung; the overflow was only in the corr products above)
      .select(col("type_a"), col("type_b"), col("n_days"),
        col("sx"), col("sy"),
        col("sxx").cast("long").as("sxx"),
        col("syy").cast("long").as("syy"),
        col("sxy").cast("long").as("sxy"),
        col("corr"))
  }

  /** q175: incremental aggregate maintenance — the materialized-view
    * merge every nightly pipeline runs: yesterday's per-(user, type)
    * aggregate state plus today's delta, WITHOUT rescanning history.
    * The merge is a full-outer join on the group key with coalesced
    * additive state (counts, integer-cent sums, min/max micros) — every
    * statistic here is decomposable, which is exactly what makes it
    * incrementally maintainable. The "state" side aggregates events
    * before the cutoff and the "delta" side the last day, so the
    * ORACLE — one direct aggregate over ALL events — is an independent
    * algorithm: merge-of-parts must equal aggregate-of-whole exactly,
    * in integers. At 100 TB the state side is a parquet read of the
    * previous MV, not a recompute; the merge plan is identical. */
  def q175IncrementalMv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"),
        unix_micros(col("ts")).as("ts_us"))
    val cutoffFrame = ev.agg(date_trunc("day", max(col("ts"))).as("cut"))
    val tagged = ev.crossJoin(broadcast(cutoffFrame))
    def aggState(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
    val state = aggState(tagged.filter(col("ts") < col("cut")))
      .select(col("user_id"), col("event_type"), col("n").as("n_a"),
        col("sum_cents").as("s_a"), col("first_us").as("f_a"),
        col("last_us").as("l_a"))
    val delta = aggState(tagged.filter(col("ts") >= col("cut")))
      .select(col("user_id"), col("event_type"), col("n").as("n_b"),
        col("sum_cents").as("s_b"), col("first_us").as("f_b"),
        col("last_us").as("l_b"))
    state.join(delta, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L))).as("n"),
        (coalesce(col("s_a"), lit(0L)) + coalesce(col("s_b"), lit(0L)))
          .as("sum_cents"),
        least(coalesce(col("f_a"), col("f_b")), coalesce(col("f_b"), col("f_a")))
          .as("first_us"),
        greatest(coalesce(col("l_a"), col("l_b")), coalesce(col("l_b"), col("l_a")))
          .as("last_us"))
  }

  val oracles: Map[String, String] = Map(
    "q175_incremental_mv" ->
      """SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us,
        |  CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q172_type_correlation" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |spine AS (SELECT day, event_type FROM
        |  (SELECT DISTINCT day FROM daily)
        |  CROSS JOIN (SELECT DISTINCT event_type FROM daily)),
        |f AS (SELECT s.day, s.event_type,
        |  COALESCE(d.c, CAST(0 AS BIGINT)) AS c
        |  FROM spine s LEFT JOIN daily d
        |    ON d.day = s.day AND d.event_type = s.event_type),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(a.c) AS BIGINT) AS sx, CAST(SUM(b.c) AS BIGINT) AS sy,
        |  CAST(SUM(a.c * a.c) AS BIGINT) AS sxx,
        |  CAST(SUM(b.c * b.c) AS BIGINT) AS syy,
        |  CAST(SUM(a.c * b.c) AS BIGINT) AS sxy
        |  FROM f a JOIN f b ON a.day = b.day AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_days, sx, sy, sxx, syy, sxy,
        |  CAST(CAST(n_days AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |    nullif(sqrt(CAST((CAST(n_days AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
        |      * (CAST(n_days AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy) AS DOUBLE)), 0.0) AS corr
        |FROM p""".stripMargin,

    "q170_linear_attribution" ->
      """WITH touches AS (SELECT user_id, ts, event_id AS touch_id,
        |  event_type AS channel FROM events
        |  WHERE event_type IN ('view', 'click')),
        |purchases AS (SELECT user_id, event_id AS purchase_id,
        |  CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |  ts - INTERVAL 24 HOURS AS lo, ts AS hi
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT t.channel, t.ts, t.touch_id, p.purchase_id, p.cents
        |  FROM touches t JOIN purchases p ON t.user_id = p.user_id
        |    AND t.ts >= p.lo AND t.ts <= p.hi),
        |r AS (SELECT channel, purchase_id, cents,
        |  CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touch,
        |  ROW_NUMBER() OVER (PARTITION BY purchase_id
        |    ORDER BY ts, touch_id) AS rk
        |  FROM j)
        |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
        |  CAST(SUM(cents // n_touch
        |    + CASE WHEN rk = 1 THEN cents % n_touch ELSE 0 END) AS BIGINT)
        |    AS credited_cents
        |FROM r GROUP BY 1""".stripMargin,

    "q171_seasonal_residuals" ->
      """WITH hourly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  dayofweek(ts) + 1 AS dow, hour(ts) AS hr,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2, 3, 4),
        |base AS (SELECT event_type AS bt, dow AS bd, hr AS bh,
        |  CAST(COUNT(*) AS BIGINT) AS n_cells, CAST(SUM(cnt) AS BIGINT) AS s1,
        |  CAST(SUM(cnt * cnt) AS BIGINT) AS s2
        |  FROM hourly GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(day AS VARCHAR) AS day, hr, cnt,
        |  n_cells, s1, s2,
        |  CAST(cnt * n_cells - s1 AS DOUBLE)
        |    / sqrt(CAST(n_cells * s2 - s1 * s1 AS DOUBLE)) AS z
        |FROM hourly JOIN base ON event_type = bt AND dow = bd AND hr = bh
        |WHERE n_cells >= 4 AND (n_cells * s2 - s1 * s1) > 0
        |  AND 25 * (cnt * n_cells - s1) * (cnt * n_cells - s1)
        |    > 81 * (n_cells * s2 - s1 * s1)""".stripMargin,

    "q168_asof_tolerance" ->
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click'),
        |purchases AS (SELECT user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |m AS (SELECT l.event_id, l.user_id, l.ts AS lts, r.ts AS rts,
        |  r.value
        |  FROM clicks l ASOF LEFT JOIN purchases r
        |    ON l.user_id = r.user_id AND l.ts >= r.ts)
        |SELECT event_id, user_id, epoch_us(lts) AS click_us,
        |  CASE WHEN epoch_us(lts) - epoch_us(rts) <= 3600000000::BIGINT
        |    THEN epoch_us(rts) END AS purchase_us,
        |  CASE WHEN epoch_us(lts) - epoch_us(rts) <= 3600000000::BIGINT
        |    THEN value END AS purchase_value
        |FROM m""".stripMargin,

    "q163_gap_histogram" -> {
      val cases = (0 to 16).map(i => 1L << i)
        .map(b => s"WHEN gap_us <= ${b}::BIGINT * 1000000 THEN CAST($b AS BIGINT)")
        .mkString(" ")
      s"""WITH g AS (SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (
         |  PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
         |  FROM events),
         |b AS (SELECT gap_us, CASE $cases
         |  ELSE CAST(131072 AS BIGINT) END AS bucket_s
         |  FROM g WHERE gap_us IS NOT NULL)
         |SELECT bucket_s, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         |  CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us
         |FROM b GROUP BY 1""".stripMargin
    },

    "q162_rapid_repeats" ->
      """WITH w AS (SELECT event_type,
        |  lag(ts) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS pts, ts
        |  FROM events),
        |f AS (SELECT event_type,
        |  (pts IS NOT NULL AND epoch_us(ts) - epoch_us(pts)
        |    <= 600 * 1000000::BIGINT) AS suppressed
        |  FROM w)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN suppressed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_suppressed,
        |  CAST(SUM(CASE WHEN suppressed THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_kept
        |FROM f GROUP BY 1""".stripMargin,

    "q164_mom_growth" ->
      """WITH m AS (SELECT n_name, date_trunc('month', o_orderdate) AS month,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS rev_cents
        |  FROM orders
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2),
        |l AS (SELECT n_name, month, rev_cents,
        |  lag(rev_cents) OVER (PARTITION BY n_name ORDER BY month)
        |    AS prev_cents
        |  FROM m)
        |SELECT n_name, month, rev_cents, prev_cents,
        |  rev_cents - prev_cents AS delta_cents,
        |  CAST((2 * (CAST(rev_cents - prev_cents AS HUGEINT) * 10000
        |      + 10000000 * CAST(prev_cents AS HUGEINT)) + prev_cents)
        |    // (2 * prev_cents) - 10000000 AS BIGINT) AS growth_bp
        |FROM l""".stripMargin,

    "q165_gini_concentration" ->
      """WITH c AS (SELECT event_type, user_id,
        |  CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, x,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY x, user_id) AS BIGINT) AS i
        |  FROM c),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(x) AS BIGINT) AS n_events,
        |  CAST(SUM(i * x) AS BIGINT) AS rank_weighted
        |  FROM r GROUP BY 1)
        |SELECT event_type, n_users, n_events,
        |  2 * rank_weighted - (n_users + 1) * n_events AS gini_num,
        |  n_users * n_events AS gini_den,
        |  CAST(2 * rank_weighted - (n_users + 1) * n_events AS DOUBLE)
        |    / CAST(n_users * n_events AS DOUBLE) AS gini
        |FROM g""".stripMargin,

    "q161_interpolate" ->
      """WITH hourly AS (SELECT event_type, hour,
        |  CAST(ROUND(value * 100) AS BIGINT) AS units
        |  FROM (SELECT event_type, date_trunc('hour', ts) AS hour, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |spans AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1
        |  FROM hourly GROUP BY 1),
        |spine AS (SELECT event_type,
        |  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM spans),
        |j AS (SELECT s.event_type, s.hour, h.units,
        |  epoch(s.hour)::BIGINT // 3600 AS hh
        |  FROM spine s LEFT JOIN hourly h USING (event_type, hour)),
        |b AS (SELECT event_type, hour, units, hh,
        |  LAST_VALUE(units IGNORE NULLS) OVER wp AS pu,
        |  LAST_VALUE(CASE WHEN units IS NOT NULL THEN hh END IGNORE NULLS)
        |    OVER wp AS ph,
        |  FIRST_VALUE(units IGNORE NULLS) OVER wn AS nu,
        |  FIRST_VALUE(CASE WHEN units IS NOT NULL THEN hh END IGNORE NULLS)
        |    OVER wn AS nh
        |  FROM j
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, hour, units IS NULL AS is_interpolated,
        |  CASE WHEN units IS NOT NULL THEN units
        |    ELSE pu - 100000 + (2 * ((nu - pu) * (hh - ph)
        |      + 100000 * (nh - ph)) + (nh - ph)) // (2 * (nh - ph)) END
        |    AS value_cents,
        |  CAST(CASE WHEN units IS NOT NULL THEN units
        |    ELSE pu - 100000 + (2 * ((nu - pu) * (hh - ph)
        |      + 100000 * (nh - ph)) + (nh - ph)) // (2 * (nh - ph)) END
        |    AS DOUBLE) / 100 AS value
        |FROM b""".stripMargin,

    "q146_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  epoch_us(ts) AS ts_us,
        |  CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
        |s AS (SELECT *, CASE WHEN prev_us IS NULL
        |    OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT *, LAG(ts_us) OVER w AS prev_us FROM e
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)) t),
        |g AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id FROM s),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id
        |    ORDER BY ts_us, event_id) AS rn FROM g),
        |agg AS (SELECT user_id, session_id,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
        |    AS BIGINT) AS rev,
        |  CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS conv
        |  FROM g GROUP BY 1, 2),
        |sess AS (SELECT agg.user_id, agg.session_id, r.event_type AS channel,
        |  agg.rev, agg.conv
        |  FROM agg JOIN r ON r.user_id = agg.user_id
        |    AND r.session_id = agg.session_id AND r.rn = 1)
        |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(conv) AS BIGINT) AS conv_sessions,
        |  CAST(SUM(rev) AS BIGINT) AS revenue_cents,
        |  CAST((2 * SUM(conv) * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
        |    / 1e4 AS conv_share
        |FROM sess GROUP BY 1""".stripMargin,

    "q147_rfm_segments" ->
      """WITH u AS (SELECT user_id, MAX(epoch_us(ts)) AS last_us,
        |  CAST(COUNT(*) AS BIGINT) AS freq,
        |  CAST(SUM(CASE WHEN event_type = 'purchase'
        |    THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS monetary
        |  FROM events GROUP BY 1),
        |m AS (SELECT MAX(last_us) AS max_us FROM u),
        |seg AS (SELECT
        |  CASE WHEN (max_us - last_us) // 86400000000 <= 7 THEN 'r1_active'
        |       WHEN (max_us - last_us) // 86400000000 <= 30 THEN 'r2_recent'
        |       ELSE 'r3_lapsed' END AS r_seg,
        |  CASE WHEN freq >= 40 THEN 'f1_heavy'
        |       WHEN freq >= 10 THEN 'f2_regular' ELSE 'f3_light' END AS f_seg,
        |  CASE WHEN monetary >= 10000 THEN 'm1_high'
        |       WHEN monetary >= 1000 THEN 'm2_mid' ELSE 'm3_low' END AS m_seg,
        |  monetary FROM u CROSS JOIN m)
        |SELECT r_seg, f_seg, m_seg, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(monetary) AS BIGINT) AS monetary_cents
        |FROM seg GROUP BY 1, 2, 3""".stripMargin,

    "q145_twap" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  epoch_us(ts) AS ts_us,
        |  CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT event_type,
        |  CAST((LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |    - ts_us) AS BIGINT) AS w_us, cents FROM e),
        |f AS (SELECT event_type, w_us // 1000000 AS w_sec, cents
        |  FROM g WHERE w_us IS NOT NULL)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_weighted,
        |  CAST(SUM(w_sec) AS BIGINT) AS w_total_sec,
        |  ROUND(CAST(SUM(w_sec * cents) AS DOUBLE)
        |    / NULLIF(CAST(SUM(w_sec) AS DOUBLE), 0.0) / 1e2, 4) AS twap
        |FROM f GROUP BY 1""".stripMargin,

    // HUGEINT widening mirrors the engine's decimal(38,0): n·q ≈ n²·c̄²
    // overflows BIGINT at the 100× ladder rung (and Σc² alone would at
    // 10¹¹ rows); same integers, same // truncation, same final doubles.
    "q135_welch_ttest" ->
      """WITH e AS (SELECT event_type,
        |  CAST(ROUND(value * 100) AS BIGINT) AS c FROM events
        |  WHERE event_type IN ('click', 'view')),
        |g AS (SELECT
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN c ELSE 0 END) AS BIGINT) AS s1,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS HUGEINT) AS q1,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN c ELSE 0 END) AS BIGINT) AS s2,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS HUGEINT) AS q2
        |  FROM e)
        |SELECT n1 AS n_click, n2 AS n_view,
        |  CAST((2 * CAST(s1 AS HUGEINT) * 100 + n1) // (2 * n1) AS DOUBLE) / 1e2 AS mean_click,
        |  CAST((2 * CAST(s2 AS HUGEINT) * 100 + n2) // (2 * n2) AS DOUBLE) / 1e2 AS mean_view,
        |  ROUND((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |    / NULLIF(SQRT(
        |        CAST(CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / NULLIF(CAST(CAST(n1 AS HUGEINT) * (n1 - 1) * n1 AS DOUBLE), 0.0)
        |      + CAST(CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE) / NULLIF(CAST(CAST(n2 AS HUGEINT) * (n2 - 1) * n2 AS DOUBLE), 0.0)),
        |      0.0), 4) AS t,
        |  ROUND(
        |    (CAST(CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / NULLIF(CAST(CAST(n1 AS HUGEINT) * (n1 - 1) * n1 AS DOUBLE), 0.0)
        |     + CAST(CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE) / NULLIF(CAST(CAST(n2 AS HUGEINT) * (n2 - 1) * n2 AS DOUBLE), 0.0))
        |    * (CAST(CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / NULLIF(CAST(CAST(n1 AS HUGEINT) * (n1 - 1) * n1 AS DOUBLE), 0.0)
        |       + CAST(CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE) / NULLIF(CAST(CAST(n2 AS HUGEINT) * (n2 - 1) * n2 AS DOUBLE), 0.0))
        |    / NULLIF(
        |      (CAST(CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / NULLIF(CAST(CAST(n1 AS HUGEINT) * (n1 - 1) * n1 AS DOUBLE), 0.0))
        |        * (CAST(CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / NULLIF(CAST(CAST(n1 AS HUGEINT) * (n1 - 1) * n1 AS DOUBLE), 0.0))
        |        / CAST(n1 - 1 AS DOUBLE)
        |      + (CAST(CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE) / NULLIF(CAST(CAST(n2 AS HUGEINT) * (n2 - 1) * n2 AS DOUBLE), 0.0))
        |        * (CAST(CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE) / NULLIF(CAST(CAST(n2 AS HUGEINT) * (n2 - 1) * n2 AS DOUBLE), 0.0))
        |        / CAST(n2 - 1 AS DOUBLE), 0.0), 2) AS dof
        |FROM g""".stripMargin,

    "q136_auc" ->
      """WITH e AS (SELECT event_type,
        |  CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE event_type IN ('purchase', 'error')),
        |s AS (SELECT cents,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM e GROUP BY 1),
        |p AS (SELECT a, b, a + b AS t,
        |  COALESCE(CAST(SUM(a + b) OVER (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pt
        |  FROM s),
        |g AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb,
        |  CAST(SUM(a * (2 * pt + t + 1)) AS BIGINT) AS r2a FROM p)
        |SELECT na AS n_pos, nb AS n_neg,
        |  r2a - na * (na + 1) AS u2,
        |  ROUND(CAST(r2a - na * (na + 1) AS DOUBLE)
        |    / NULLIF(CAST(2 * na * nb AS DOUBLE), 0.0), 6) AS auc
        |FROM g""".stripMargin,

    "q137_grouped_split" ->
      """WITH e AS (SELECT
        |  CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |       WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split,
        |  user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT split, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(cents) AS BIGINT) AS cents_total
        |FROM e GROUP BY 1""".stripMargin,

    "q132_mann_whitney" ->
      """WITH e AS (SELECT event_type,
        |  CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE event_type IN ('click', 'view')),
        |s AS (SELECT cents,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM e GROUP BY 1),
        |p AS (SELECT a, b, a + b AS t,
        |  COALESCE(CAST(SUM(a + b) OVER (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pt
        |  FROM s),
        |g AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb,
        |  CAST(SUM(a * (2 * pt + t + 1)) AS BIGINT) AS r2a,
        |  CAST(SUM(t * t * t - t) AS BIGINT) AS ties FROM p)
        |SELECT na AS n_click, nb AS n_view,
        |  r2a - na * (na + 1) AS u2_click,
        |  ROUND((CAST(r2a - na * (na + 1) - na * nb AS DOUBLE) / 2.0)
        |    / NULLIF(SQRT(CAST(na * nb AS DOUBLE) / 12.0
        |        * (CAST(na + nb + 1 AS DOUBLE)
        |           - CAST(ties AS DOUBLE)
        |             / CAST((na + nb) * (na + nb - 1) AS DOUBLE))), 0.0), 4) AS z
        |FROM g""".stripMargin,

    "q131_rate_anomaly" ->
      """WITH h AS (SELECT event_type,
        |  epoch_us(date_trunc('hour', ts)) AS hour_us,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, hour_us, n,
        |  COUNT(*) OVER w AS c, SUM(n) OVER w AS s, SUM(n * n) OVER w AS ssq
        |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
        |    RANGE BETWEEN 86400000000 PRECEDING AND 3600000000 PRECEDING))
        |SELECT event_type, hour_us, n,
        |  CAST((2 * s * 100 + c) // (2 * c) AS DOUBLE) / 1e2 AS baseline_mean,
        |  ROUND(CAST(n * c - s AS DOUBLE)
        |    / SQRT(NULLIF(CAST(c * ssq - s * s AS DOUBLE), 0.0)), 4) AS z
        |FROM b WHERE c > 0""".stripMargin,

    "q129_ks_test" ->
      """WITH e AS (SELECT event_type,
        |  CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE event_type IN ('click', 'view')),
        |s AS (SELECT cents,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM e GROUP BY 1),
        |c AS (SELECT cents,
        |  SUM(a) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS ca,
        |  SUM(b) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cb
        |  FROM s),
        |t AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM s),
        |d AS (SELECT cents, na, nb, ABS(ca * nb - cb * na) AS num
        |  FROM c CROSS JOIN t),
        |m AS (SELECT MAX(struct_pack(num := num, cents := cents,
        |    na := na, nb := nb)) AS r FROM d)
        |SELECT CAST(r.num AS DOUBLE) / NULLIF(CAST(r.na * r.nb AS DOUBLE), 0.0) AS ks_d,
        |  CAST(r.cents AS DOUBLE) / 100 AS at_value,
        |  r.na AS n_click, r.nb AS n_view
        |FROM m""".stripMargin,

    "q130_benford" ->
      """WITH d AS (SELECT substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS digit,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM d)
        |SELECT digit, n,
        |  CAST((2 * n * 1000000 + tot) // (2 * tot) AS DOUBLE) / 1e6 AS observed,
        |  ROUND(LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford
        |FROM d CROSS JOIN t""".stripMargin,

    "q114_winsorize" ->
      """WITH e AS (SELECT event_type,
        |  CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
        |c AS (SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |w AS (SELECT event_type, cents, n,
        |  SUM(n) OVER (PARTITION BY event_type ORDER BY cents
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  SUM(n) OVER (PARTITION BY event_type) AS tot FROM c),
        |thr AS (SELECT event_type,
        |  MIN(CASE WHEN cum * 100 >= tot * 1 THEN cents END) AS lo_c,
        |  MIN(CASE WHEN cum * 100 >= tot * 99 THEN cents END) AS hi_c
        |  FROM w GROUP BY 1)
        |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN cents < lo_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |  CAST(SUM(CASE WHEN cents > hi_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |  CAST(MAX(lo_c) AS DOUBLE) / 100 AS p01,
        |  CAST(MAX(hi_c) AS DOUBLE) / 100 AS p99,
        |  CAST(SUM(cents) AS DOUBLE) / 100 AS raw_sum,
        |  CAST(SUM(GREATEST(lo_c, LEAST(hi_c, cents))) AS DOUBLE) / 100 AS winsorized_sum
        |FROM e JOIN thr USING (event_type)
        |GROUP BY e.event_type""".stripMargin,

    "q107_trailing_1h" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id, ts_us,
        |  CAST(SUM(cents) OVER w AS DOUBLE) / 100.0 AS trailing_sum,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS trailing_n
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q110_value_quantiles" ->
      """WITH c AS (SELECT event_type,
        |  CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, cents, n,
        |  SUM(n) OVER (PARTITION BY event_type ORDER BY cents
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  SUM(n) OVER (PARTITION BY event_type) AS tot,
        |  ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY n DESC, cents ASC) AS rn FROM c)
        |SELECT event_type, CAST(MAX(tot) AS BIGINT) AS n_events,
        |  CAST(MIN(CASE WHEN cum * 100 >= tot * 25 THEN cents END) AS DOUBLE) / 100 AS p25,
        |  CAST(MIN(CASE WHEN cum * 100 >= tot * 50 THEN cents END) AS DOUBLE) / 100 AS p50,
        |  CAST(MIN(CASE WHEN cum * 100 >= tot * 90 THEN cents END) AS DOUBLE) / 100 AS p90,
        |  CAST(MAX(CASE WHEN rn = 1 THEN cents END) AS DOUBLE) / 100 AS mode_value,
        |  CAST(MAX(CASE WHEN rn = 1 THEN n END) AS BIGINT) AS mode_n
        |FROM w GROUP BY event_type""".stripMargin,

    "q101_markov_transitions" ->
      """WITH p AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, to_type, n,
        |  SUM(n) OVER (PARTITION BY from_type) AS tot FROM c)
        |SELECT from_type, to_type, n,
        |  CAST((2 * n * 10000 + tot) // (2 * tot) AS DOUBLE) / 1e4 AS p
        |FROM t""".stripMargin,

    "q102_session_paths" ->
      """WITH s AS (SELECT user_id, ts, event_id, event_type,
        |  epoch_us(lag(ts) OVER w) AS prev_us,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |       THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, event_id, event_type,
        |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS session_id FROM s),
        |paths AS (SELECT user_id, session_id,
        |  string_agg(event_type, '->' ORDER BY ts, event_id) AS path
        |  FROM g GROUP BY 1, 2)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM paths GROUP BY 1""".stripMargin,

    "q103_equiwidth_hist" ->
      """WITH b AS (SELECT LEAST(CAST(FLOOR(value / 50.0) AS INT), 10) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |spine AS (SELECT CAST(unnest(generate_series(0, 10)) AS INT) AS bin)
        |SELECT spine.bin,
        |  CAST(spine.bin * 50 AS DOUBLE) AS lo,
        |  CASE WHEN spine.bin = 10 THEN NULL
        |       ELSE CAST(spine.bin * 50 + 50 AS DOUBLE) END AS hi,
        |  COALESCE(n, 0) AS n
        |FROM spine LEFT JOIN b ON spine.bin = b.bin""".stripMargin,

    "q95_scd2_history" ->
      """WITH s AS (SELECT user_id, ts, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_state
        |  FROM events),
        |c AS (SELECT user_id, event_type AS state, epoch_us(ts) AS valid_from_us
        |  FROM s WHERE prev_state IS NULL OR prev_state <> event_type)
        |SELECT user_id, state, valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY valid_from_us) AS valid_to_us
        |FROM c""".stripMargin,

    "q88_snapshot_diff" ->
      """WITH v1 AS (SELECT user_id, epoch_us(max(ts)) AS v1_us FROM events
        |  WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1),
        |v2 AS (SELECT user_id, epoch_us(max(ts)) AS v2_us FROM events
        |  WHERE ts < TIMESTAMP '2024-01-25 00:00:00' GROUP BY 1)
        |SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
        |  CASE WHEN v1_us IS NULL THEN 'added'
        |       WHEN v2_us IS NULL THEN 'removed'
        |       WHEN v1_us = v2_us THEN 'unchanged'
        |       ELSE 'updated' END AS change_type,
        |  v1_us, v2_us
        |FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id""".stripMargin,

    "q68_robust_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |mad AS (SELECT e.event_type,
        |  quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN med m USING (event_type) GROUP BY 1),
        |z AS (SELECT e.event_type, e.event_id, e.value,
        |  ROUND(m.med, 4) AS med, ROUND(d.mad, 4) AS mad,
        |  ROUND(abs(e.value - m.med) / NULLIF(1.4826 * d.mad, 0), 4) AS rz
        |  FROM events e
        |  JOIN med m USING (event_type)
        |  JOIN mad d USING (event_type))
        |SELECT event_type, event_id, value, med, mad, rz
        |FROM z WHERE rz > 3.0""".stripMargin,

    "q65_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |r AS (SELECT user_id, d,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn FROM d),
        |g AS (SELECT user_id, COUNT(*) AS len
        |  FROM r GROUP BY user_id, d - CAST(rn AS INT))
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  CAST(MAX(len) AS BIGINT) AS longest_streak
        |FROM g GROUP BY user_id""".stripMargin,

    "q64_regression" ->
      """WITH e AS (SELECT event_type,
        |  CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) - 473352 AS x,
        |  CAST(round(value * 1000, 0) AS BIGINT) AS y FROM events),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |  CAST(SUM(x * x) AS BIGINT) AS sxx,
        |  CAST(SUM(x * y) AS BIGINT) AS sxy,
        |  CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM e GROUP BY 1)
        |SELECT event_type, n,
        |  ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) / 1000.0, 6) AS slope,
        |  ROUND((CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 1000.0))
        |    - (((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) / 1000.0)
        |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS intercept,
        |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
        |FROM m""".stripMargin,

    "q62_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
        |  JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.view_ts GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
        |  JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY 1)
        |SELECT v.user_id, epoch_us(v.view_ts) AS view_us,
        |  epoch_us(c.click_ts) AS click_us,
        |  epoch_us(p.purchase_ts) AS purchase_us,
        |  CAST(1 + CASE WHEN c.click_ts IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN p.purchase_ts IS NULL THEN 0 ELSE 1 END AS INT) AS stage
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,

    "q63_cohort_retention" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
        |SELECT CAST(f.cohort_date AS VARCHAR) AS cohort_date,
        |  CAST(a.d - f.cohort_date AS INT) AS day_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "q38_interval_join" ->
      """WITH incidents AS (
        |  SELECT event_id AS incident_id, user_id, ts AS lo,
        |         ts + INTERVAL 30 MINUTE AS hi
        |  FROM events WHERE event_id % 97 = 0)
        |SELECT e.event_id, i.incident_id, e.user_id,
        |  epoch_us(e.ts) AS ev_us, epoch_us(i.lo) AS lo_us
        |FROM events e JOIN incidents i
        |  ON e.user_id = i.user_id AND e.ts >= i.lo AND e.ts <= i.hi""".stripMargin,

    "q32_asof_join" ->
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purchases AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, epoch_us(l.ts) AS click_us,
        |  epoch_us(r.ts) AS purchase_us, r.value AS purchase_value
        |FROM clicks l ASOF LEFT JOIN purchases r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    "q10_date_dim" ->
      """SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
        | strftime(d, '%Y-%m-%d') AS full_date,
        | dayname(d) AS day_of_week,
        | CAST(isodow(d) AS SMALLINT) AS day_number_in_week,
        | isodow(d) = 7 AS last_day_in_week_indicator,
        | monthname(d) AS month_name,
        | CAST(month(d) AS SMALLINT) AS month_number_in_year,
        | dayname(d) NOT IN ('Saturday', 'Sunday') AS weekday_flag
        |FROM (SELECT unnest(generate_series(DATE '2022-01-01', DATE '2023-12-31', INTERVAL 1 DAY))::DATE AS d)""".stripMargin,

    "q11_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q45_variant_json" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        | CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q12_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q53_trailing_features" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM events WHERE user_id < 50
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q52_gap_fill" ->
      """WITH e AS (SELECT * FROM events WHERE user_id < 30),
        |hourly AS (SELECT user_id, date_trunc('hour', ts) AS hour,
        |  arg_max(value, ts) AS value FROM e GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |  FROM hourly GROUP BY 1),
        |spine AS (SELECT user_id,
        |  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM spans),
        |j AS (SELECT s.user_id, s.hour, h.value
        |  FROM spine s LEFT JOIN hourly h USING (user_id, hour))
        |SELECT user_id, hour, value IS NULL AS gap_filled,
        |  LAST_VALUE(value IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM j""".stripMargin,

    "q13_hourly_agg" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q14_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin
  )
}
