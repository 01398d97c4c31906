package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Core relational operator inventory over the fixture tables
  * (SURVEY.md §7.2 step 4). Each query has a DuckDB oracle twin in
  * [[graft.Oracles]]; column names/aliases must match exactly.
  *
  * Numeric convention: aggregate sums over double columns are computed on
  * exact DECIMAL casts then cast back to double, so results are independent
  * of partition/summation order — required both for the DuckDB hash compare
  * and for run-to-run determinism on a real cluster.
  */
object CoreQueries {

  private def dec(c: String, p: Int = 18, s: Int = 2) =
    col(c).cast(s"decimal($p,$s)")

  /** A-series: grouped aggregation (star-schema intent, SURVEY.md §2.5).
    * TPC-H Q1-shaped pricing summary. Partial aggregation (map-side combine)
    * comes free from groupBy().agg(); only the tiny grouped state shuffles. */
  def q01Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount", 4, 2)))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        round(sum(dec("l_quantity")).cast("double") / count(lit(1)), 4).as("avg_qty"))

  /** TPC-H Q3 shape (shipping priority): segment-filtered customer ×
    * orders × lineitem, revenue per open order, global top-10. Catalyst
    * owns the join order; the revenue sum is exact decimal and the
    * TakeOrderedAndProject ranks on the DECIMAL (order ties broken by
    * date and key), with the double cast only at output — ordering never
    * depends on float rounding. Adapted to the fixture's schema
    * (o_orderpriority stands in for o_shippriority). */
  def q69ShipPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_orderdate") < to_timestamp(lit("1996-03-15")) &&
        col("l_shipdate") > to_timestamp(lit("1996-03-15")))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec("l_extendedprice") *
        (lit(1).cast("decimal(18,2)") - dec("l_discount", 4, 2))).as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(10)
      .select(col("l_orderkey"),
        col("rev_dec").cast("double").as("revenue"),
        col("o_orderdate").cast("date").cast("string").as("o_orderdate"),
        col("o_orderpriority"))

  /** TPC-H Q5 shape (local supplier volume): the 6-table star — customer,
    * orders, lineitem, supplier, nation, region — with the local-supplier
    * constraint c_nationkey = s_nationkey. The dims (supplier/nation/
    * region/customer at fixture scale) broadcast; Catalyst reorders the
    * join graph; revenue is exact decimal per nation. */
  def q70LocalSupplierVolume(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      .groupBy(col("n_name"))
      .agg(sum(dec("l_extendedprice") *
        (lit(1).cast("decimal(18,2)") - dec("l_discount", 4, 2)))
        .cast("double").as("revenue"))

  /** P-series: predicate filter + positive projection. Both the filter and
    * the 4-column ReadSchema push down to the parquet scan (verified via
    * explain: PushedFilters + pruned ReadSchema). */
  def q02FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 49.0 &&
        col("l_shipdate") >= to_timestamp(lit("1998-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-02-01")))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  /** J1 analog: broadcast-join chain fact->dim->dim (customer x nation x
    * region; nation/region are the 25/5-row dimension analogs). Explicit
    * broadcast: at 100 TB the customer side never shuffles. */
  def q03JoinBroadcast(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("num_customers"),
        sum(dec("c_acctbal")).cast("double").as("total_acctbal"))

  /** Shuffle join: lineitem x orders on orderkey (both sides large — at
    * scale this is the sort-merge/shuffled-hash path; AQE picks). Filter on
    * the orders side prunes before the join — in RANGE form, not
    * `year(o_orderdate) === 1996`: Catalyst cannot push a function-wrapped
    * predicate to the parquet scan, so the function form read the orders
    * table in full at every scale, while the equivalent half-open range
    * reaches PushedFilters and prunes row groups by min/max stats
    * (PlanSpec asserts the pushdown, the q84 standard). */
  def q04JoinLarge(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01")
            && col("o_orderdate") < lit("1997-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount", 4, 2)))
          .cast("double").as("revenue"),
        count(lit(1)).as("num_items"))

  /** Window top-k: top 3 orders per orderstatus by totalprice (surrogate for
    * the reference's serial-key windowing, SURVEY.md §2.6). Deterministic
    * tie-break on orderkey. Partitioned window — scales with #groups. */
  def q05WindowTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_orderstatus", "o_orderkey", "o_totalprice", "rn")
  }

  /** Set op: UNION (distinct) of two filtered branches — the pandas
    * pd.concat analog (SURVEY.md §2.6) plus dedup. */
  def q06Union(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val big = o.filter(col("o_totalprice") > 400000.0)
      .select("o_orderkey", "o_orderstatus")
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderstatus")
    big.unionByName(urgent).distinct()
  }

  /** A1: filtered COUNT — the data-quality probe shape
    * (reference `dags/ETL_covid19_spark.py:102-108`). */
  def q07CountGate(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .agg(count(lit(1)).as("row_cnt"))

  /** J3: FK-integrity anti join — orders whose custkey has no customer row
    * (broadcast on the dim side; empty result = FKs hold). */
  def q08AntiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .select("o_orderkey", "o_custkey")

  /** Semi join: customers that placed at least one urgent order. */
  def q09SemiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")

  /** Skew-safe aggregation: two-stage salted sum/count over events by
    * event_type (few hot keys x many rows — the skew shape). Exact-decimal
    * sums make the result independent of salt/partition order, so it
    * hash-matches the plain-GROUP-BY oracle: the skew technique with a
    * correctness proof attached. */
  def q30SaltedAgg(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Skew.saltedAgg(
      Tables.events(spark, dir),
      keys = Seq("event_type"),
      distributeOn = col("event_id"),
      aggs = Seq(
        graft.ops.Skew.SaltedSum(col("value").cast("decimal(28,10)"), "total_value"),
        graft.ops.Skew.SaltedCount("n_events")),
      saltBuckets = 16)
      .select(col("event_type"),
        col("total_value").cast("double").as("total_value"),
        col("n_events"))

  /** Custom physical operator: top-3 orders per customer through
    * [[graft.plans.TopK]] — bounded heaps per key (O(n log k), streaming)
    * instead of WindowExec's full per-partition sort; hash-matches the
    * window-row_number oracle exactly. */
  def q35TopkCustom(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.perKey(
      Tables.orders(spark, dir),
      keys = Seq(col("o_custkey")),
      order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      k = 3)
      .select("o_custkey", "o_orderkey", "o_totalprice")

  /** Window-function breadth (§2.6): lag/lead/rank/dense_rank/running sum
    * over one (custkey, orderkey-ordered) window — one shuffle, all
    * functions share the frame. Deterministic: orderkey is unique. */
  def q36WindowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") < 500)
      .select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        rank().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)).as("price_rank"),
        sum(dec("o_totalprice")).over(run).cast("double").as("running_total"))
  }

  /** Set ops (§2.6): INTERSECT / EXCEPT between two filtered key sets —
    * Catalyst plans both as aggregates + semi/anti joins. */
  def q37SetOps(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val high = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 200000.0).select("o_custkey")
    urgent.intersect(high).withColumn("set_kind", lit("both"))
      .unionByName(urgent.except(high).withColumn("set_kind", lit("urgent_only")))
  }

  /** Rollup (grouping-sets family, §2.5 star-schema intent): subtotals per
    * (returnflag, linestatus), per returnflag, and grand total in one pass —
    * Catalyst expands to a single Expand + aggregate, one shuffle. */
  def q31Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))

  /** CUBE: all 2^n grouping-set combinations in ONE pass — Spark expands
    * grouping sets inside a single hash aggregate (Expand + partial agg),
    * so the cost is one shuffle regardless of how many subtotal levels the
    * report needs; n separate GROUP BYs would be n scans + n shuffles. */
  def q46Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))

  /** Pivot with an EXPLICIT value list: Spark's two-phase pivot (collect
    * distinct values, then pivot) needs an extra job to discover the
    * columns — passing the values keeps it a single conditional-aggregate
    * pass, the only form that's sane when the fact side is 100 TB. */
  def q47Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(dec("o_totalprice")).cast("double"))

  /** Unpivot (melt) wide measures to (measure, val) rows — a Generator-
    * backed narrow map (Expand), no shuffle at all; the filter stays
    * BEFORE the 4x row multiplication. */
  def q48Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 49.0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("l_quantity"),
        col("l_extendedprice").cast("double").as("l_extendedprice"),
        col("l_discount").cast("double").as("l_discount"),
        col("l_tax").cast("double").as("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "val")

  /** Exact quartiles per group (linear interpolation — the same contract
    * as SQL percentile_cont / DuckDB quantile_cont). Exact percentile
    * buffers each group's values, which is fine for bounded groups like
    * these; for 100 TB unbounded groups the approx sketch family
    * ([[graft.ops.Sketches]]) is the scale path — this query is the exact
    * baseline those sketches are validated against. */
  def q49Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25D)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5D)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75D)"), 4).as("p75"),
        count(lit(1)).as("n_rows"))

  /** q72: equi-depth (quantile) binning — the feature-engineering step that
    * turns a skewed numeric column into balanced categorical bins. Exact
    * per-language quartile edges (one tiny row per language) broadcast back
    * onto the scan, so bin assignment is a narrow map: one aggregate
    * shuffle for the edges, one for the (lang, bin) counts, no sort of the
    * full table. Bin membership compares n_chars against the UNROUNDED
    * interpolated edges on both engines (rounding only in the output
    * projection), so boundary docs land identically. Exact `percentile`
    * buffers every value per group: the right call while a group fits in
    * memory. */
  def q72EquidepthHist(spark: SparkSession, dir: String): DataFrame = {
    def pct(q: String): Column = expr(s"percentile(n_chars, ${q}D)")
    val docs = Tables.documents(spark, dir).select(col("lang"), col("n_chars"))
    val edges = docs.groupBy("lang").agg(
      pct("0.25").as("q1"),
      pct("0.5").as("q2"),
      pct("0.75").as("q3"))
    docs.join(broadcast(edges), Seq("lang"))
      .select(col("lang"), col("n_chars"), col("q1"), col("q2"), col("q3"),
        (lit(1) + (col("n_chars") > col("q1")).cast("int")
                + (col("n_chars") > col("q2")).cast("int")
                + (col("n_chars") > col("q3")).cast("int")).as("bin"))
      .groupBy("lang", "bin", "q1", "q2", "q3")
      .agg(
        count(lit(1)).as("n_docs"),
        min("n_chars").as("lo"),
        max("n_chars").as("hi"))
      .select(col("lang"), col("bin"), col("n_docs"), col("lo"), col("hi"),
        round(col("q1"), 4).as("p25"),
        round(col("q2"), 4).as("p50"),
        round(col("q3"), 4).as("p75"))
  }

  /** q73: correlated-EXISTS shape (TPC-H Q4 family) — orders with at least
    * one line item shipped more than 90 days after the order date, counted
    * per priority. The EXISTS decorrelates to a LEFT SEMI join on the order
    * key with the date comparison as an extra join predicate: each order
    * emits at most once no matter how many late lines it has (no fan-out,
    * no distinct), and the semi join shuffles only (orderkey, two dates) —
    * at 100 TB the payload columns never move. */
  def q73LateShipExists(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_orderdate") + expr("INTERVAL 90 DAY")).as("cutoff"))
    val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    o.join(l,
        o("o_orderkey") === l("l_orderkey") && l("l_shipdate") > o("cutoff"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
  }

  /** q81: TPC-H Q18 shape (large-volume orders) — orders whose total line
    * quantity clears a HAVING threshold, joined back to order and customer
    * detail. The aggregate-then-filter side collapses lineitem to one row
    * per qualifying order BEFORE any wide join (exact-decimal sum, so the
    * threshold cut is engine-deterministic); the surviving set is small by
    * construction, and the customer join is un-hinted (customer scales
    * with SF; the planner broadcasts the small survivor side). The classic
    * IN-(grouped-subquery) decorrelation, with the aggregate carried
    * through instead of recomputed. */
  def q81BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_name"),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        col("sum_qty").cast("double").as("sum_qty"))
  }

  /** q80: distribution window functions — ntile / percent_rank / cume_dist
    * / nth_value / first-last over an explicit unbounded frame, completing
    * the window surface beyond q36's lag/lead/rank family. The ordering
    * (totalprice, orderkey) is a total order, so every rank-derived value
    * is engine-deterministic; all six functions share one partitioned sort
    * (a single window exchange, never a global one). */
  def q80WindowDistribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") < 200)
      .select(col("o_orderstatus"), col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"),
        first(col("o_orderkey")).over(wf).as("first_key"),
        last(col("o_orderkey")).over(wf).as("last_key"))
  }

  /** q76: FULL OUTER join — daily order activity vs daily shipping
    * activity on calendars that don't fully overlap, so unmatched rows
    * survive from BOTH sides (the join type q08/q09's semi/anti family
    * doesn't cover). Both sides pre-aggregate to date grain BEFORE the
    * join: the outer join sees two tiny (date, count) frames, never the
    * fact tables — at 100 TB the full-outer exchange is on thousands of
    * rows, not billions. USING-column semantics coalesce the key. */
  def q76FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
      .agg(count(lit(1)).as("n_orders"))
    val l = Tables.lineitem(spark, dir)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("d"))
      .agg(count(lit(1)).as("n_shipped"))
    o.join(l, Seq("d"), "full_outer")
      .select(col("d"), col("n_orders"), col("n_shipped"))
  }

  /** q75: declarative data-contract audit over the orders intake
    * ([[graft.quality.Quality.expectations]]) — not-null, domain, range,
    * key-uniqueness, and referential rules evaluated to one
    * (rule, n_violations, n_checked) row each. The range rule is
    * deliberately strict enough to fire on the fixture (4,538 violations),
    * so the audit path is exercised with real nonzero counts, not a
    * vacuous all-zeros row set. All row rules share ONE aggregate pass;
    * the FK rule carries only the key column through its anti join. */
  def q75Expectations(spark: SparkSession, dir: String): DataFrame = {
    import graft.quality.Quality
    Quality.expectations(
      Tables.orders(spark, dir),
      rowRules = Seq(
        Quality.RowRule("not_null_o_custkey", col("o_custkey").isNotNull),
        Quality.RowRule("domain_o_orderstatus",
          col("o_orderstatus").isin("F", "O", "P")),
        Quality.RowRule("range_o_totalprice",
          col("o_totalprice") > 0.0 && col("o_totalprice") <= 350000.0)),
      uniqueRules = Seq(Quality.UniqueRule("unique_o_orderkey", Seq("o_orderkey"))),
      fkRules = Seq(Quality.FkRule("fk_orders_customer", Seq("o_custkey"),
        Tables.customer(spark, dir), Seq("c_custkey"))))
  }

  /** q92: skyline (Pareto frontier) of parts — cheapest-for-their-size
    * parts: minimize p_retailprice, maximize p_size, a part is dominated
    * if another is <= on price AND >= on size with one strict. The naive
    * formulation is an O(n^2) non-equi self-join; this one is
    * aggregation-shaped: collapse to one row per distinct price (max size
    * — the only candidate at that price), take the EXCLUSIVE running max
    * of size over cheaper prices
    * ([[graft.ops.GlobalIndex.withGlobalRunningMax]] — range-partitioned
    * scan, no single-partition window even on the already-shrunk
    * distinct-price table), and keep rows that beat it.
    * The parts join back on price — an equi-join, broadcastable since the
    * frontier-candidate side only shrinks. The oracle deliberately uses
    * the OTHER algorithm (NOT EXISTS dominator) — two independent
    * formulations agreeing is the point. */
  def q92Skyline(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
    val perPrice = parts.groupBy(col("p_retailprice"))
      .agg(max(col("p_size")).as("best_size"))
    val frontier = graft.ops.GlobalIndex
      .withGlobalRunningMax(perPrice, Seq(col("p_retailprice")),
        col("best_size"), "prev_best")
      .filter(col("prev_best").isNull || col("best_size") > col("prev_best"))
      .select(col("p_retailprice"), col("best_size"))
    parts.join(broadcast(frontier), Seq("p_retailprice"))
      .filter(col("p_size") === col("best_size"))
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"), col("p_size"))
  }

  /** q116: TPC-H Q21 shape — the triple-correlated EXISTS / NOT-EXISTS
    * query ("suppliers who were the ONLY supplier with a returned item in
    * a multi-supplier finished order"), decorrelated the way a warehouse
    * must run it: ONE per-order aggregate computes the distinct-supplier
    * and distinct-returned-supplier counts, and both correlated
    * predicates collapse to filters on that aggregate — lineitem is
    * scanned once, not three times, and nothing is re-probed per row.
    * The oracle deliberately runs the LITERAL EXISTS/NOT EXISTS
    * formulation (q92's two-formulations rule: independent algorithms
    * must agree). Top-10 on a total order (numwait desc, s_name) plans
    * as TakeOrderedAndProject. */
  def q116SoleReturnedSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val fOrders = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val fLi = li.join(fOrders, col("l_orderkey") === col("o_orderkey"))
    // a qualifying order has EXACTLY ONE returned supplier, so the same
    // aggregate that proves it also names them — no join back onto
    // lineitem, ONE fact scan total (PlanSpec-asserted).
    // Staged as dedup-then-count, NOT two countDistincts in one agg: the
    // multi-distinct form plans an Expand that replicates every
    // post-join row ×3 (one replica per distinct group + one for the
    // plain agg) and keeps a distinct-set buffer per order — at the
    // 1000× rung (300M F-order rows) that Expand was the query's cost
    // (225 s, the r7 tail). The (orderkey, suppkey) pre-aggregate needs
    // NO new exchange (hash partitioning on l_orderkey from the join
    // satisfies both groupings), collapses to association cardinality,
    // and the distinct counts become plain count/sum over it.
    fLi.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("ret"))
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_supp"),
        sum(col("ret")).as("n_ret_supp"),
        max(when(col("ret") === 1L, col("l_suppkey"))).as("ret_supp"))
      .filter(col("n_supp") > 1 && col("n_ret_supp") === 1)
      .groupBy(col("ret_supp")).agg(count(lit(1)).as("numwait"))
      // supplier scales with SF: no broadcast HINT — stats/AQE broadcast
      // it while it fits and shuffle-join it when it doesn't (policy for
      // every scale-proportional table; nation/region stay hinted)
      .join(Tables.supplier(spark, dir),
        col("ret_supp") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(10)
  }

  /** q120: TPC-H Q22 shape — "well-funded idle customers" per nation:
    * a scalar-aggregate subquery (the mean positive balance) gates the
    * customer set, an anti join removes everyone with a PENDING order
    * (every fixture customer has SOME order, so the status filter is what
    * keeps the anti join non-vacuous), and the survivors aggregate by
    * nation. The mean comparison never leaves integer space:
    * `cents·n > sum_cents` is exactly "strictly above the mean" without a
    * division, so the threshold is engine-exact. The 1-row aggregate
    * broadcasts; the anti join ships only the filtered o_custkey set. */
  def q120InactiveRich(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .withColumn("cents", round(col("c_acctbal") * 100).cast("long"))
    val thr = cust.filter(col("cents") > 0)
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(thr))
      .filter(col("cents") * col("n_pos") > col("s"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderstatus") === "P").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        (sum(col("cents")).cast("double") / 100).as("totacctbal"))
  }

  /** q123: TPC-H Q14 shape — promo revenue share per ship month: one
    * conditional-aggregate pass computes the PROMO slice and the total in
    * the same shuffle (no second scan, no join of two aggregates), exact
    * DECIMAL revenue, and the percentage formed with the integer half-up
    * rule — a ratio of two decimal sums never touches FP until the final
    * 2-decimal output. */
  def q123PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .join(Tables.part(spark, dir).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
    val rev = dec("l_extendedprice") *
      (lit(1).cast("decimal(18,2)") - dec("l_discount", 4, 2))
    li.groupBy(month(col("l_shipdate")).as("ship_month"))
      .agg(
        // decimal(38,0), not long: the half-up percentage multiplies the
        // monthly revenue sum by 2·10⁴ — at the 1000× rung (600M lineitem
        // rows) that product crosses int64 and ANSI mode aborts the query
        // (caught by the r6 full-suite ladder). 38 digits carries the
        // 100 TB case with ~11 digits to spare; DuckDB's // is HUGEINT.
        (sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(18,2)")))
          * 10000).cast("decimal(38,0)").as("promo_q"),
        (sum(rev) * 10000).cast("decimal(38,0)").as("tot_q"))
      .select(col("ship_month"),
        (col("promo_q").cast("double") / 1e4).as("promo_revenue"),
        (col("tot_q").cast("double") / 1e4).as("total_revenue"),
        (expr("(2 * promo_q * 10000 + tot_q) DIV (2 * tot_q)").cast("double") / 1e2)
          .as("promo_pct"))
  }

  /** q124: TPC-H Q7 shape — trade volume between two specific nations per
    * order year, both directions. The fact tables join each other on
    * their keys; the two-nation filter is applied on the supplier and
    * customer sides BEFORE the fact join, so only qualifying suppliers'/
    * customers' rows flow (nation broadcasts explicitly — fixed 25 rows;
    * the filtered supplier/customer slices are un-hinted since they
    * scale with SF). Exact DECIMAL revenue. */
  def q124NationTrade(spark: SparkSession, dir: String): DataFrame = {
    val nations = Tables.nation(spark, dir)
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val rev = dec("l_extendedprice") *
      (lit(1).cast("decimal(18,2)") - dec("l_discount", 4, 2))
    Tables.lineitem(spark, dir)
      // supp/cust are two-nation SLICES of scale-proportional tables: the
      // filter cuts them ~12x but they still grow with SF, so no broadcast
      // hint — the planner broadcasts while they fit
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("o_orderdate")).as("order_year"))
      .agg(sum(rev).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q125: hierarchical percent-of-parent — revenue per nation with its
    * share of the region and of the grand total, the drill-down report
    * every BI layer asks of a geography hierarchy. Both denominators are
    * re-aggregations of the tiny per-nation frame (25 rows) joined back
    * by broadcast — never a partitionless window, never a second fact
    * scan; shares use integer cents and the half-up rule. Customer is
    * joined un-hinted (a real dimension at scale — AQE picks broadcast
    * when it fits); nation/region broadcast explicitly. */
  def q125HierarchyShare(spark: SparkSession, dir: String): DataFrame = {
    val perNation = Tables.orders(spark, dir)
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("cents")).as("c"), count(lit(1)).as("n_orders"))
    val perRegion = perNation.groupBy(col("r_name")).agg(sum(col("c")).as("rc"))
    val total = perNation.agg(sum(col("c")).as("tc"))
    perNation.join(broadcast(perRegion), Seq("r_name"))
      .crossJoin(broadcast(total))
      .select(col("r_name"), col("n_name"), col("n_orders"),
        (col("c").cast("double") / 100).as("revenue"),
        (expr("(2 * c * 10000 + rc) DIV (2 * rc)").cast("double") / 1e2)
          .as("pct_of_region"),
        (expr("(2 * c * 10000 + tc) DIV (2 * tc)").cast("double") / 1e2)
          .as("pct_of_total"))
  }

  /** q127: per-group top-k WITH ties — rank() ≤ k keeps every row tied at
    * the boundary, the semantics reports usually mean when they say
    * "the 3 most recent days" (row_number's arbitrary tie drop is q35's
    * contract). Ranking on order DATE makes the ties real: every order
    * sharing one of a priority's top-3 dates survives, so the output is
    * larger than 3·|groups| and genuinely distinguishes rank from
    * row_number. Spark's WindowGroupLimit pushes the rank filter into a
    * per-group limit before the full sort. Output is a SET (ties
    * included) — deterministic without a total order. */
  def q127TopKTies(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_orderdate").desc)
    Tables.orders(spark, dir)
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_orderdate").cast("string").as("o_orderdate"), col("rnk"))
  }

  /** q128: schema-reconciling union — two snapshot generations with
    * DIFFERENT columns (the later one added o_totalprice-derived price
    * data) combine by NAME with missing columns as NULL, then aggregate.
    * Positional union silently mis-aligns evolved schemas; unionByName
    * (allowMissingColumns) is the evolution-safe form — the query twin of
    * SinksSpec's mergeSchema read. */
  def q128UnionByName(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    // range form so both branch predicates reach the scan (q04's rule);
    // the union covers the whole table either way, but each branch's scan
    // should still prune its half
    val old = orders.filter(col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey"), col("o_orderstatus"))
    val neu = orders.filter(col("o_orderdate") >= lit("1997-01-01"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
    old.unionByName(neu, allowMissingColumns = true)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("price_cents")).as("n_with_price"),
        (sum(col("price_cents")).cast("double") / 100).as("sum_price"))
  }

  /** q117: TPC-H Q16 shape — supplier diversity per part family with a
    * NOT-IN blacklist subquery. The NOT IN becomes a left_anti join (the
    * blacklist is a supplier SLICE, so it scales with SF — no broadcast
    * hint; the planner broadcasts while it fits). No pre-join
    * `.distinct()` (r11): countDistinct dedups inside its own partial
    * aggregate, so the association dedup added a SECOND full-stream
    * exchange on (partkey, suppkey) for rows the distinct-count exchange
    * deduplicates anyway — and onto a COARSER key: many parts share a
    * (brand, type), so the partial (brand, type, suppkey) agg collapses
    * below association cardinality before its exchange (rung A/B:
    * shuffle 1.33 → 0.56 GB, wall 23.5 → 21.7 s, cpu 514 → 484 — the
    * residual is the lineitem scan; plan 3 → 2 exchanges). */
  def q117PartSupplierDiversity(spark: SparkSession, dir: String): DataFrame = {
    val blacklist = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(blacklist, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** q148: TPC-H Q6 shape (forecast revenue) — the canonical
    * filter-everything-then-one-agg scan. All four predicates and the
    * 2-column ReadSchema push to the parquet scan (row-group pruning on
    * shipdate at rest); the whole query is one codegen stage with a
    * single-row partial-agg exchange. At 100 TB this reads only the
    * shipdate-pruned row groups and shuffles ~32 rows. */
  def q148ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(dec("l_extendedprice") * dec("l_discount", 4, 2))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** q149: TPC-H Q8 shape (national market share) — for ASIA-region
    * customers, the share of yearly order revenue supplied from NATION_5.
    * The conditional-sum-over-total idiom: ONE pass computes numerator
    * (CASE WHEN) and denominator in the same grouped agg — no self-join,
    * no second scan. Nation/region broadcast (fixed-size); supplier and
    * customer join un-hinted (they scale with SF); only (year, two
    * decimals) shuffle out of the agg.
    * The share division happens once per year-row in double (identical
    * IEEE semantics in the oracle), on exact decimal inputs. */
  def q149MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val vol = dec("l_extendedprice") *
      (lit(1).cast("decimal(18,2)") - dec("l_discount", 4, 2))
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .withColumnRenamed("n_name", "cust_nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_5", vol)
          .otherwise(lit(0).cast("decimal(18,2)"))).as("nat_dec"),
        sum(vol).as("tot_dec"))
      .select(col("o_year"),
        round(col("nat_dec").cast("double") / col("tot_dec").cast("double"), 6)
          .as("mkt_share"),
        col("tot_dec").cast("double").as("total_revenue"))
  }

  /** q150: TPC-H Q13 shape (customer order-count distribution) — LEFT
    * join so zero-order customers survive with c_count=0, then a second
    * tiny agg over the per-customer counts. The first agg shuffles one
    * row per customer; the second shuffles one row per distinct count
    * (bounded ~100s). The priority filter lives in the JOIN condition,
    * not a WHERE — a post-join WHERE would silently turn the left join
    * into an inner one and drop the c_count=0 bucket. */
  def q150CustOrderDist(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderpriority") =!= "5-LOW"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** q151: TPC-H Q15 shape (top supplier) — per-supplier quarterly
    * revenue, then the supplier(s) achieving the maximum. The scalar
    * subquery (SELECT MAX(...)) becomes a 1-row broadcast joined on
    * DECIMAL equality — exact, so ties are kept identically to the SQL
    * semantics, and there is no single-partition window anywhere. */
  def q151TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val revs = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec("l_extendedprice") *
        (lit(1).cast("decimal(18,2)") - dec("l_discount", 4, 2))).as("rev_dec"))
    val maxRev = revs.agg(max(col("rev_dec")).as("max_rev"))
    revs.join(broadcast(maxRev), col("rev_dec") === col("max_rev"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_revenue"))
  }

  /** q152: TPC-H Q17 shape (small-quantity-order revenue) — lineitems of
    * one part family whose quantity is below 0.2x that part's average.
    * The correlated avg becomes a per-part agg joined back; the
    * fractional compare qty < sum/(5*n) is done as the exact integer-
    * cross-multiplication qty*5*n < sum (decimals, no division) so both
    * engines keep identical edge rows. Parts prune first (a brand x type
    * slice — proportional to SF, so un-hinted; the planner broadcasts
    * while it fits), so lineitem is scanned once and only matching
    * parts' rows flow. */
  def q152SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#23" && col("p_type") === "ECONOMY")
      .select(col("p_partkey"))
    val li = Tables.lineitem(spark, dir)
      .join(pts, col("l_partkey") === col("p_partkey"))
    val stats = li.groupBy(col("l_partkey"))
      .agg(sum(dec("l_quantity")).as("sum_qty"), count(lit(1)).as("n_li"))
    li.join(stats.withColumnRenamed("l_partkey", "sk"), col("l_partkey") === col("sk"))
      .filter(dec("l_quantity") * lit(5) * col("n_li") < col("sum_qty"))
      .agg(sum(dec("l_extendedprice")).cast("double").as("total_price"),
        count(lit(1)).as("n_small"))
      .select(round(col("total_price") / 7.0, 4).as("avg_yearly"),
        col("total_price"), col("n_small"))
  }

  /** q153: TPC-H Q19 shape (discounted revenue, disjunctive predicates) —
    * three OR'd brand/size/quantity conjunctions evaluated inside the
    * hash-join condition. Catalyst extracts the common
    * l_partkey=p_partkey equi-key for the hash lookup and applies the
    * disjunction as the join residual — no fallback to nested-loop. The
    * part side is un-hinted (it scales with SF; the planner broadcasts
    * while it fits). */
  def q153DisjunctivePredicates(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir),
        col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#15" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#19" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))))
      .agg(sum(dec("l_extendedprice") *
        (lit(1).cast("decimal(18,2)") - dec("l_discount", 4, 2)))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** q154: TPC-H Q9 shape (product-type profit) — profit per supplier
    * nation per order year for 'red' parts, with supply cost stood in by
    * p_retailprice/2 (the fixture has no partsupp table; documented
    * divergence). All arithmetic stays in widening decimals (exact) until
    * the final double cast; the 'red' parts slice filters first so
    * lineitem rows for the other ~90% of parts never enter the join
    * graph (slice un-hinted — it scales with SF). */
  def q154ProductProfit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir)
        .filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(
        dec("l_extendedprice") *
          (lit(1).cast("decimal(18,2)") - dec("l_discount", 4, 2)) -
        dec("p_retailprice") * dec("l_quantity") * lit(0.5).cast("decimal(2,1)"))
        .cast("double").as("profit"))

  /** q155: TPC-H Q2 shape (minimum-cost supplier) — for each small part,
    * the EUROPE-region supplier(s) offering the minimum observed price
    * (min l_extendedprice stands in for partsupp.ps_supplycost). The
    * correlated MIN becomes a per-part agg re-joined on (partkey, price);
    * the double equality is safe because no arithmetic touches the
    * value. DISTINCT collapses repeat sales at the same min price. */
  def q155MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val eligSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val lip = Tables.lineitem(spark, dir)
      .join(eligSupp, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.part(spark, dir).filter(col("p_size") < 10)
        .select(col("p_partkey"), col("p_name")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("n_name"), col("l_extendedprice"))
    val mins = lip.groupBy(col("p_partkey").as("mk"))
      .agg(min(col("l_extendedprice")).as("min_price"))
    lip.join(mins, col("p_partkey") === col("mk") &&
        col("l_extendedprice") === col("min_price"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("n_name"), col("min_price"))
      .distinct()
  }

  /** q156: TPC-H Q20 shape (excess shippers) — suppliers whose 1996
    * shipped quantity of PROMO-type parts exceeds a volume threshold,
    * decorated with their nation. The part filter broadcasts; the
    * per-supplier agg shuffles one decimal per supplier; the HAVING is a
    * post-agg filter on the exact decimal. */
  /** q166: TPC-H Q11 shape (important stock value) — per-part inventory
    * value for one nation's suppliers, keeping parts whose value exceeds
    * a fraction of the group total. The correlated scalar subquery
    * (SELECT SUM(...) * 0.001) is a 1-row broadcast; the HAVING compares
    * value*1000 > total — integer-cents cross-multiplication, no
    * fraction, no FP edge rows. Lineitem (extprice*qty stands in for
    * ps_supplycost*ps_availqty; no partsupp in the fixture) shuffles
    * once into the per-part agg. */
  def q166StockValue(spark: SparkSession, dir: String): DataFrame = {
    val natSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = Tables.lineitem(spark, dir)
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * col("l_quantity") * 100)
        .cast("long")).as("value_cents"))
    val total = value.agg(sum(col("value_cents")).as("total_cents"))
    value.crossJoin(broadcast(total))
      .filter(col("value_cents") * 1000 > col("total_cents"))
      .select(col("l_partkey"), col("value_cents"),
        (col("value_cents").cast("double") / 100).as("value"))
  }

  /** q167: TPC-H Q12 shape (shipping-priority audit) — per return-flag
    * class (the fixture's shipmode analog), how many 1996-shipped items
    * belong to critical-priority orders vs not. The two-way CASE count
    * pairs ride ONE conditional-agg pass over the join; the orders side
    * carries only (orderkey, priority). */
  def q167ShipmodePriority(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))

  def q156ExcessShippers(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .join(Tables.part(spark, dir)
        .filter(col("p_type") === "PROMO").select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec("l_quantity")).as("qty_dec"))
      .filter(col("qty_dec") > lit(450).cast("decimal(18,2)"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        col("qty_dec").cast("double").as("total_qty"))
}
