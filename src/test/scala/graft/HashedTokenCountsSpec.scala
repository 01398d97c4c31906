package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.sources.Tables

/** The native single-pass `hashed_token_counts` must agree exactly with
  * the SQL bucket rule it documents (`CAST(('0x' || substr(md5(t), 1, 2))
  * AS BIGINT) % B` — q183's hash, modulo-extended) on real fixture
  * tokens, in both codegen and interpreted paths, and conserve mass:
  * every non-null token lands in exactly one bucket. */
class HashedTokenCountsSpec extends SparkSpec {

  private val B = 32

  private def toks = Tables.documents(spark, sfDir)
    .select(col("doc_id"),
      expr("filter(split(text, '\\\\s+'), t -> length(t) > 0)").as("toks"))

  test("agrees with the composed md5-bucket rule on every fixture document") {
    // reference: per-token bucket via Spark's own md5/conv, counted per
    // slot with the (slow) per-bucket filter form
    val bucketOf = (t: org.apache.spark.sql.Column) =>
      (conv(substring(md5(t), 1, 2), 16, 10).cast("long") % B).cast("int")
    val diff = toks.select(
      GraftFunctions.hashedTokenCounts(col("toks"), B).as("fast"),
      transform(sequence(lit(0), lit(B - 1)), j =>
        size(filter(col("toks"), t => bucketOf(t) === j)).cast("long"))
        .as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(diff === 0L)
  }

  test("mass conservation: bucket counts sum to the token count; interpreted == codegen") {
    import spark.implicits._
    val bad = toks.select(size(col("toks")).cast("long").as("n"),
      aggregate(GraftFunctions.hashedTokenCounts(col("toks"), B),
        lit(0L), (a, v) => a + v).as("s"))
      .filter(col("n") =!= col("s")).count()
    assert(bad === 0L)
    def total(): Seq[Long] =
      toks.select(GraftFunctions.hashedTokenCounts(col("toks"), B).as("c"))
        .agg(GraftFunctions.longVecSum(col("c")).as("s"))
        .as[Seq[Long]].head()
    val codegen = total()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(total() === codegen)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("edges: empty array, null array, null elements; SQL registration") {
    import spark.implicits._
    def counts(a: Seq[String]): Seq[Long] =
      spark.range(1).select(GraftFunctions.hashedTokenCounts(
        typedLit(a), 4).as("c")).as[Seq[Long]].head()
    assert(counts(Nil) === Seq(0L, 0L, 0L, 0L))
    assert(counts(Seq("a", "a", "b")).sum === 3L)
    val nullIn = Seq((1L, null: Seq[String])).toDF("id", "toks")
      .select(GraftFunctions.hashedTokenCounts(col("toks"), 4).as("c"))
      .collect().head
    assert(nullIn.isNullAt(0))
    // null ELEMENTS count nothing, and the SQL surface matches the Column API
    val viaSql = spark.sql(
      "SELECT hashed_token_counts(array('a', NULL, 'a'), 4) AS c")
      .as[Seq[Long]].head()
    assert(viaSql.sum === 2L)
    assert(viaSql === counts(Seq("a", "a")))
    val err = intercept[Exception] {
      spark.sql("SELECT hashed_token_counts(array('x'), length(text)) FROM " +
        s"parquet.`$sfDir/documents.parquet` LIMIT 1").collect()
    }
    assert(err.getMessage.contains("foldable"))
  }
}
