package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.sources.Tables

/** The native merge-walk `prune_sorted_positions` must agree exactly with
  * the composable form it replaced — `filter(toks, (t, i) ->
  * !array_contains(cuts, i))` — on real token data and synthetic edges, in
  * both the codegen and interpreted paths, and register as a SQL function.
  * (The composable form is the CORRECTNESS reference; the native walk is
  * O(n+m) instead of O(n·m) per row — see the expression's scaladoc.) */
class PruneSortedPositionsSpec extends SparkSpec {

  /** Real token arrays paired with a deterministic sorted cut set: every
    * position divisible by 3, plus a tail position past the array end
    * (out-of-range cuts must be ignored). */
  private def toksWithCuts = {
    import graft.ops.{TextAnalysis => TA}
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .withColumn("cuts",
        filter(sequence(lit(0), size(col("toks")) + 5), i => i % 3 === 0))
  }

  test("agrees with the indexed-filter HOF on every fixture document") {
    val diff = toksWithCuts.select(
      GraftFunctions.pruneSortedPositions(col("toks"), col("cuts")).as("fast"),
      filter(col("toks"), (_, i) => !array_contains(col("cuts"), i)).as("ref"))
      .filter(not(col("fast") <=> col("ref")))
      .count()
    assert(diff === 0L)
  }

  test("interpreted path matches codegen path") {
    import spark.implicits._
    def total(): Long =
      toksWithCuts.select(size(GraftFunctions.pruneSortedPositions(
        col("toks"), col("cuts"))).cast("long").as("n"))
        .agg(sum(col("n"))).as[Long].head()
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

  test("edges: no cuts, all cut, duplicate cuts tolerated, out-of-range ignored, order preserved") {
    import spark.implicits._
    def run(toks: Seq[String], cuts: Seq[Int]): Seq[String] =
      spark.range(1).select(GraftFunctions.pruneSortedPositions(
        typedLit(toks), typedLit(cuts)).as("k")).as[Seq[String]].head()
    assert(run(Seq("a", "b", "c"), Nil) === Seq("a", "b", "c"))
    assert(run(Seq("a", "b", "c"), Seq(0, 1, 2)) === Nil)
    assert(run(Seq("a", "b", "c", "d"), Seq(1, 1, 3)) === Seq("a", "c"))
    assert(run(Seq("a", "b"), Seq(5, 9)) === Seq("a", "b"))
    assert(run(Seq("a", "b", "c", "d", "e"), Seq(0, 2, 4)) === Seq("b", "d"))
    assert(run(Nil, Seq(0)) === Nil)
  }

  test("NULL semantics: null array -> null; null token kept as null; null cut element -> null") {
    import spark.implicits._
    val nullArr = spark.range(1).select(GraftFunctions.pruneSortedPositions(
      lit(null).cast("array<string>"), typedLit(Seq(0))).as("k"))
      .as[Option[Seq[String]]].head()
    assert(nullArr === None)
    val nullCuts = spark.range(1).select(GraftFunctions.pruneSortedPositions(
      typedLit(Seq("a")), lit(null).cast("array<int>")).as("k"))
      .as[Option[Seq[String]]].head()
    assert(nullCuts === None)
    val nullTok = spark.range(1).select(GraftFunctions.pruneSortedPositions(
      array(lit("a"), lit(null).cast("string"), lit("c")), typedLit(Seq(0))).as("k"))
      .collect().head.getSeq[String](0)
    assert(nullTok === Seq(null, "c"))
    val nullCutElem = spark.range(1).select(GraftFunctions.pruneSortedPositions(
      typedLit(Seq("a", "b")), array(lit(0), lit(null).cast("int"))).as("k"))
      .as[Option[Seq[String]]].head()
    assert(nullCutElem === None)
  }

  test("registers as a SQL function") {
    import spark.implicits._
    val r = spark.sql(
      "SELECT prune_sorted_positions(array('a','b','c','d'), array(1, 3)) AS k")
      .as[Seq[String]].head()
    assert(r === Seq("a", "c"))
  }
}
