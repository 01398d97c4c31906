package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** The native `arg_min_sqdist` must agree exactly with the composable HOF
  * argmin (array_min over (d2, cluster) structs — the tie order q142's
  * original relational struct-min used), on real embedding data and on
  * synthetic edges, in both the codegen and interpreted paths, and
  * register as a SQL function. */
class ArgMinSqDistSpec extends SparkSpec {

  private val hofArgmin = expr(
    """array_min(transform(cents, c -> named_struct(
      |  'd2', aggregate(zip_with(xq, c.cq, (a, b) -> (a - b) * (a - b)),
      |          CAST(0 AS BIGINT), (s, v) -> s + v),
      |  'cluster', c.cluster))).cluster""".stripMargin)

  /** Quantized fixture embeddings × the first-k centroid list — the exact
    * frame shape q142 evaluates. */
  private def assigned = {
    val pts = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) + 1000000L)")
        .as("xq"))
    val cents = pts.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cluster"), col("xq").as("cq"))
      .agg(collect_list(struct(col("cluster"), col("cq"))).as("cents"))
    pts.crossJoin(broadcast(cents))
  }

  test("agrees with the HOF argmin on every fixture vector") {
    val diff = assigned
      .select(GraftFunctions.argMinSqDist(col("xq"), col("cents")).as("fast"),
        hofArgmin.as("ref"))
      .filter(!(col("fast") <=> col("ref")))
      .count()
    assert(diff === 0L)
  }

  test("ties break to the lowest cluster id") {
    import spark.implicits._
    // two centroids at the same point: both d2 equal, id 1 must win
    val out = Seq((Seq(5L, 5L), Seq((7, Seq(0L, 0L)), (1, Seq(0L, 0L)))))
      .toDF("xq", "cents")
      .select(GraftFunctions.argMinSqDist(col("xq"),
        col("cents").cast("array<struct<cluster:int,cq:array<bigint>>>")).as("c"))
      .as[Int].head()
    assert(out === 1)
  }

  test("empty centroid list and length mismatch yield NULL") {
    import spark.implicits._
    val schema = "array<struct<cluster:int,cq:array<bigint>>>"
    val empty = Seq((Seq(1L), Seq.empty[(Int, Seq[Long])])).toDF("xq", "cents")
      .select(GraftFunctions.argMinSqDist(col("xq"), col("cents").cast(schema)))
      .head().isNullAt(0)
    val mismatch = Seq((Seq(1L, 2L), Seq((0, Seq(1L))))).toDF("xq", "cents")
      .select(GraftFunctions.argMinSqDist(col("xq"), col("cents").cast(schema)))
      .head().isNullAt(0)
    assert(empty && mismatch)
  }

  test("interpreted path matches codegen path") {
    def total(): Long = {
      import spark.implicits._
      assigned.select(GraftFunctions.argMinSqDist(col("xq"), col("cents"))
        .cast("long").as("c")).agg(sum(col("c"))).as[Long].head()
    }
    val codegen = total()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(total() === codegen)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("registers as a SQL function") {
    import spark.implicits._
    val out = spark.sql(
      """SELECT arg_min_sqdist(array(3L, 3L),
        |  array(named_struct('cluster', 0, 'cq', array(0L, 0L)),
        |        named_struct('cluster', 1, 'cq', array(3L, 4L)))) AS c""".stripMargin)
      .as[Int].head()
    assert(out === 1) // d2: 18 vs 1
  }
}
