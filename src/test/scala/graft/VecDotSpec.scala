package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.ops.Similarity
import graft.sources.Tables

/** The native codegen'd vec_dot must be BIT-identical to the higher-order
  * `aggregate(zip_with(...))` fold it replaces — same IEEE evaluation
  * order — on the real embeddings fixture, and callable from SQL. */
class VecDotSpec extends SparkSpec {

  test("vec_dot is bit-identical to the zip_with/aggregate fold") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).limit(200)
    val q = emb.select(col("embedding").as("qe"), col("vec_id"))
      .filter(col("vec_id") < 4).drop("vec_id")
    val pairs = emb.crossJoin(broadcast(q))
    val diff = pairs.select(
      Similarity.dot(col("qe"), col("embedding")).as("fast"),
      Similarity.dotHof(col("qe"), col("embedding")).as("ref"))
      .filter(col("fast") =!= col("ref")) // exact double equality
      .count()
    assert(diff === 0L)
    // and cosine built on it stays in [-1, 1]
    val cs = pairs.select(
      Similarity.cosine(col("qe"), col("embedding")).as("c")).as[Double].collect()
    assert(cs.forall(c => c >= -1.0001 && c <= 1.0001))
  }

  test("vec_dot registers as a SQL function via GraftFunctions") {
    import spark.implicits._
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .as[Double].head()
    assert(r === 32.0)
  }

  test("vec_dot is NULL on mismatched lengths and null elements (like the HOF form)") {
    import spark.implicits._
    val mismatch = spark.range(1).select(
      Similarity.dot(array(lit(1.0), lit(2.0)), array(lit(3.0))).as("d"))
      .as[Option[Double]].head()
    assert(mismatch === None)
    val nullElem = spark.range(1).select(
      Similarity.dot(
        array(lit(1.0), lit(null).cast("double")),
        array(lit(3.0), lit(4.0))).as("d"))
      .as[Option[Double]].head()
    assert(nullElem === None)
  }

  test("vec_dot mixes float and double arrays (the srpBucket path)") {
    import spark.implicits._
    val d = spark.range(1).select(
      Similarity.dot(
        array(lit(0.5f), lit(-1.5f)),
        array(lit(1.0), lit(-1.0))).as("d")).as[Double].head()
    assert(d === (0.5f.toDouble * 1.0) + (-1.5f.toDouble * -1.0))
    // SQL path coerces int arrays via the registered builder
    val s = spark.sql("SELECT vec_dot(array(1, 2), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(s === 11.0)
  }

  test("long_vec_dot equals the integer zip_with/aggregate fold on quantized embeddings") {
    import spark.implicits._
    val q = Tables.embeddings(spark, sfDir).limit(200)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e3).cast("long")).as("vq"))
    val probe = q.filter(col("vec_id") < 4)
      .select(col("vq").as("qv"))
    val diff = q.crossJoin(broadcast(probe)).select(
      GraftFunctions.longVecDot(col("vq"), col("qv")).as("fast"),
      aggregate(zip_with(col("vq"), col("qv"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff === 0L)
  }

  test("long_vec_dot: NULL on ragged/null input; SQL surface coerces int arrays") {
    import spark.implicits._
    val ragged = spark.range(1).select(
      GraftFunctions.longVecDot(
        array(lit(1L), lit(2L)), array(lit(3L))).as("d"))
      .as[Option[Long]].head()
    assert(ragged === None)
    val nullElem = spark.range(1).select(
      GraftFunctions.longVecDot(
        array(lit(1L), lit(null).cast("long")),
        array(lit(3L), lit(4L))).as("d"))
      .as[Option[Long]].head()
    assert(nullElem === None)
    val s = spark.sql("SELECT long_vec_dot(array(1, 2), array(3, 4)) AS d")
      .as[Long].head()
    assert(s === 11L)
  }
}
