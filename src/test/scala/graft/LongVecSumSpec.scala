package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** The native vector-sum aggregate must agree exactly with the
  * posexplode + scalar-sum formulation it replaces — across partial
  * aggregation (many input partitions), NULL rows, and the SQL surface. */
class LongVecSumSpec extends SparkSpec {

  private def quantized = graft.sources.Tables.embeddings(spark, sfDir)
    .select((col("vec_id") % 7).as("g"), expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
      .as("xq"))
    .repartition(8) // force per-partition partial buffers + a real merge

  test("agrees with posexplode + sum per group on fixture embeddings") {
    import spark.implicits._
    val fast = quantized.groupBy(col("g"))
      .agg(GraftFunctions.longVecSum(col("xq")).as("s"))
      .select(col("g"), posexplode(col("s")).as(Seq("dim", "v")))
      .as[(Long, Int, Long)].collect().toSet
    val ref = quantized
      .select(col("g"), posexplode(col("xq")).as(Seq("dim", "x")))
      .groupBy(col("g"), col("dim")).agg(sum(col("x")).as("v"))
      .as[(Long, Int, Long)].collect().toSet
    assert(fast === ref)
  }

  test("NULL rows are ignored; an all-NULL group aggregates to NULL") {
    import spark.implicits._
    val df = Seq(
      (0L, Some(Seq(1L, 2L))), (0L, None), (0L, Some(Seq(10L, 20L))),
      (1L, None))
      .toDF("g", "xq")
    val got = df.groupBy(col("g"))
      .agg(GraftFunctions.longVecSum(col("xq")).as("s"))
      .orderBy("g").collect()
    assert(got(0).getSeq[Long](1) === Seq(11L, 22L))
    assert(got(1).isNullAt(1))
  }

  test("ragged groups throw instead of shipping a wrong centroid") {
    import spark.implicits._
    val df = Seq((0L, Seq(1L, 2L)), (0L, Seq(3L))).toDF("g", "xq")
    val e = intercept[Exception] {
      df.groupBy(col("g")).agg(GraftFunctions.longVecSum(col("xq"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("registers as a SQL aggregate") {
    import spark.implicits._
    val out = spark.sql(
      "SELECT long_vec_sum(x) FROM VALUES (array(1L, 2L)), (array(3L, 4L)) t(x)")
      .as[Seq[Long]].head()
    assert(out === Seq(4L, 6L))
  }
}
