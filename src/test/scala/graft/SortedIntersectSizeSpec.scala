package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.sources.Tables

/** The native merge-walk `sorted_intersect_size` must agree exactly with
  * `size(array_intersect(...))` on sorted, de-duplicated arrays — on real
  * shingle data and on synthetic edges — in both the codegen and
  * interpreted paths, and register as a SQL function. */
class SortedIntersectSizeSpec extends SparkSpec {

  private def sortedShingles = {
    import graft.ops.{Dedup, TextAnalysis => TA}
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_sort(array_distinct(Dedup.shingles3(TA.tokens(col("text"))))).as("s"))
      .filter(size(col("s")) > 0)
  }

  test("agrees with size(array_intersect) on all candidate doc pairs") {
    val docs = sortedShingles.limit(120)
    val pairs = docs.select(col("doc_id").as("d1"), col("s").as("s1"))
      .crossJoin(docs.select(col("doc_id").as("d2"), col("s").as("s2")))
      .filter(col("d1") < col("d2"))
    val diff = pairs.select(
      GraftFunctions.sortedIntersectSize(col("s1"), col("s2")).as("fast"),
      size(array_intersect(col("s1"), col("s2"))).cast("long").as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(diff === 0L)
  }

  test("interpreted path matches codegen path") {
    val docs = sortedShingles.limit(60)
    val pairs = docs.select(col("doc_id").as("d1"), col("s").as("s1"))
      .crossJoin(docs.select(col("doc_id").as("d2"), col("s").as("s2")))
    def total(): Long = {
      import spark.implicits._
      pairs.select(GraftFunctions.sortedIntersectSize(col("s1"), col("s2")).as("n"))
        .agg(sum(col("n"))).as[Long].head()
    }
    val codegen = total()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      assert(total() === codegen)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("edges: empty, disjoint, identical, subset") {
    import spark.implicits._
    def n(a: Seq[String], b: Seq[String]): Long =
      spark.range(1).select(GraftFunctions.sortedIntersectSize(
        typedLit(a), typedLit(b)).as("n")).as[Long].head()
    assert(n(Nil, Seq("a", "b")) === 0L)
    assert(n(Seq("a", "b"), Nil) === 0L)
    assert(n(Seq("a", "b"), Seq("c", "d")) === 0L)
    assert(n(Seq("a", "b", "c"), Seq("a", "b", "c")) === 3L)
    assert(n(Seq("a", "c"), Seq("a", "b", "c", "d")) === 2L)
  }

  test("NULL array and NULL element yield NULL (contract violation surfaces)") {
    import spark.implicits._
    val nullArr = spark.range(1).select(GraftFunctions.sortedIntersectSize(
      lit(null).cast("array<string>"), typedLit(Seq("a"))).as("n"))
      .as[Option[Long]].head()
    assert(nullArr === None)
    // null sorts last under array_sort; the walk must still be alive when
    // it reaches the null for the violation to surface
    val nullElem = spark.range(1).select(GraftFunctions.sortedIntersectSize(
      array(lit("a"), lit(null).cast("string")), typedLit(Seq("a", "b"))).as("n"))
      .as[Option[Long]].head()
    assert(nullElem === None)
  }

  test("registers as a SQL function") {
    import spark.implicits._
    val r = spark.sql(
      "SELECT sorted_intersect_size(array('a','b','d'), array('b','c','d')) AS n")
      .as[Long].head()
    assert(r === 2L)
  }
}
