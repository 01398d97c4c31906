package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Bucketed co-located join: when both sides are bucketed by the join key
  * into the same bucket count, the sort-merge join needs NO exchange —
  * the shuffle moved from every query to a one-time write. This is the
  * 100 TB play for fact-to-fact joins that run repeatedly (lineitem x
  * orders every day): pre-bucket at ingest, join shuffle-free forever. */
class BucketingSpec extends SparkSpec {

  test("join of co-bucketed tables plans without a shuffle exchange") {
    val wh = Files.createTempDirectory("graft_wh").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      // external bucketed tables (explicit path: warehouse.dir is static conf)
      Tables.orders(spark, sfDir).write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/orders_b").saveAsTable("orders_b")
      Tables.lineitem(spark, sfDir).write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/lineitem_b").saveAsTable("lineitem_b")

      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      joined.collect()
      val p = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      val joinSection = p.substring(p.indexOf("Join"))
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
        !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join still shuffles:\n${p.take(1200)}")

      // same answer as the plain-parquet join
      val plain = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      assert(joined.collect().toSet === plain.collect().toSet)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  /** The layout the q117/q04 ladder runs on: BucketedLayout writes the
    * external bucketed directories + _bucketspec, the session conf points
    * Tables at them, and the SAME query code (no query changes at all)
    * plans its association build / fact join without the fact-side
    * exchange. Values must match the plain-parquet run exactly. */
  test("q117/q04 on a BucketedLayout directory: fact exchange gone, values identical") {
    import graft.tools.BucketedLayout
    val out = Files.createTempDirectory("graft_blayout").toString
    val plain117 = graft.queries.CoreQueries
      .q117PartSupplierDiversity(spark, sfDir).collect().toSet
    val plain04 = graft.queries.CoreQueries
      .q04JoinLarge(spark, sfDir).collect().toSet
    val aqeCeiling = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prevCeiling = spark.conf.getOption(aqeCeiling)
    try {
      Seq("lineitem" -> "l_partkey", "part" -> "p_partkey",
          "lineitem" -> "l_orderkey", "orders" -> "o_orderkey")
        .foreach { case (t, k) =>
          BucketedLayout.writeLayout(spark, sources.Tables.load(spark, sfDir, t),
            BucketedLayout.layoutDir(out, t, k), t, k, n = 4)
        }
      // disable broadcast so the plan must rely on the bucket layout, the
      // regime the layout exists for (at 1000x the fact sides never
      // broadcast; the blacklist anti DOES broadcast there — covered by
      // the separate layout-property assertion below)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(aqeCeiling, "-1")

      // --- q117 on lineitem_by_partkey + part_by_partkey ---
      spark.conf.set("spark.graft.bucketed.lineitem",
        BucketedLayout.layoutDir(out, "lineitem", "l_partkey"))
      spark.conf.set("spark.graft.bucketed.part",
        BucketedLayout.layoutDir(out, "part", "p_partkey"))
      val b117 = graft.queries.CoreQueries.q117PartSupplierDiversity(spark, sfDir)
      assert(b117.collect().toSet === plain117)
      val p117 = b117.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      // the query's irreducible exchange on unbucketed input was the
      // distinct (l_partkey, l_suppkey) association build — gone here
      // (under all-broadcasts-off the anti join's own SMJ re-partition by
      // suppkey is expected; the rung regime broadcasts it — next block)
      val distinctExchange =
        """Exchange hashpartitioning\(l_partkey#\d+L?, l_suppkey#\d+L?""".r
      assert(distinctExchange.findFirstIn(p117).isEmpty,
        s"q117 association build still shuffles the fact:\n${p117.take(1500)}")

      // layout property behind q117's part join: with the blacklist anti
      // BROADCAST (its rung regime — the slice is small at every SF; the
      // hint stands in for what AQE's runtime threshold does at the rung,
      // while part stays SMJ under the -1 thresholds), the bucketed
      // l_partkey partitioning survives through distinct + anti, and the
      // co-bucketed part join runs with no exchange on either side
      val liB = sources.Tables.lineitem(spark, sfDir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(sources.Tables.supplier(spark, sfDir)
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(sources.Tables.part(spark, sfDir),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      liB.collect()
      val pB = liB.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      assert(!pB.contains("Exchange hashpartitioning(l_partkey") &&
        !pB.contains("Exchange hashpartitioning(p_partkey"),
        s"co-bucketed part join still shuffles:\n${pB.take(1500)}")

      // --- q04 on lineitem_by_orderkey + orders_by_orderkey ---
      spark.conf.set("spark.graft.bucketed.lineitem",
        BucketedLayout.layoutDir(out, "lineitem", "l_orderkey"))
      spark.conf.set("spark.graft.bucketed.orders",
        BucketedLayout.layoutDir(out, "orders", "o_orderkey"))
      val b04 = graft.queries.CoreQueries.q04JoinLarge(spark, sfDir)
      assert(b04.collect().toSet === plain04)
      val p04 = b04.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      assert(!p04.contains("Exchange hashpartitioning(l_orderkey") &&
        !p04.contains("Exchange hashpartitioning(o_orderkey"),
        s"q04 join still shuffles a fact side:\n${p04.take(1500)}")
    } finally {
      Seq("spark.graft.bucketed.lineitem", "spark.graft.bucketed.part",
        "spark.graft.bucketed.orders",
        "spark.sql.autoBroadcastJoinThreshold")
        .foreach(spark.conf.unset)
      // the session's own ceiling, not the default, for the suites after this
      prevCeiling.fold(spark.conf.unset(aqeCeiling))(spark.conf.set(aqeCeiling, _))
      spark.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_bucketed_"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    }
  }
}
