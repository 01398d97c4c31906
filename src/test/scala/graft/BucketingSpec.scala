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
}
