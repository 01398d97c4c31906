package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.sources.Tables

/** The native single-pass `vocab_counts` must agree exactly with the HOF
  * form it replaced (`transform(vocab, t -> size(filter(toks, tk -> tk =
  * t)))`) on real fixture tokens, in both codegen and interpreted paths,
  * and register as a SQL function with the foldable-vocab contract. */
class VocabCountsSpec extends SparkSpec {

  private val vocab = Seq("the", "hash", "row", "scan", "nosuchtoken")

  private def toks = Tables.documents(spark, sfDir)
    .select(col("doc_id"),
      expr("filter(split(text, '\\\\s+'), t -> length(t) > 0)").as("toks"))

  test("agrees with the HOF form on every fixture document") {
    val diff = toks.select(
      GraftFunctions.vocabCounts(col("toks"), vocab).as("fast"),
      transform(typedLit(vocab), t =>
        size(filter(col("toks"), tk => tk === t)).cast("long")).as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(diff === 0L)
  }

  test("interpreted path matches codegen path") {
    def total(): Seq[Long] = {
      import spark.implicits._
      toks.select(GraftFunctions.vocabCounts(col("toks"), vocab).as("c"))
        .agg(GraftFunctions.longVecSum(col("c")).as("s"))
        .as[Seq[Long]].head()
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
    // and the never-present needle counted nothing anywhere
    assert(codegen.last === 0L)
  }

  test("edges: empty array, null array, null elements, duplicate tokens") {
    import spark.implicits._
    def counts(a: Seq[String]): Seq[Long] =
      spark.range(1).select(GraftFunctions.vocabCounts(
        typedLit(a), Seq("a", "b")).as("c")).as[Seq[Long]].head()
    assert(counts(Nil) === Seq(0L, 0L))
    assert(counts(Seq("a", "a", "c", "b", "a")) === Seq(3L, 1L))
    // null input array -> null out (UnaryExpression null-intolerance)
    val nullIn = Seq((1L, null: Seq[String])).toDF("id", "toks")
      .select(GraftFunctions.vocabCounts(col("toks"), Seq("a")).as("c"))
      .collect().head
    assert(nullIn.isNullAt(0))
    // null ELEMENTS count nothing
    val nullElem = spark.sql("SELECT vocab_counts(array('a', NULL, 'a'), array('a')) AS c")
      .as[Seq[Long]].head()
    assert(nullElem === Seq(2L))
  }

  test("SQL registration enforces the foldable-vocab contract") {
    import spark.implicits._
    val viaSql = spark.sql(
      "SELECT vocab_counts(array('x', 'y', 'x'), array('x', 'z')) AS c")
      .as[Seq[Long]].head()
    assert(viaSql === Seq(2L, 0L))
    val err = intercept[Exception] {
      spark.sql("SELECT vocab_counts(array('x'), array(text)) FROM parquet.`" +
        s"$sfDir/documents.parquet` LIMIT 1").collect()
    }
    assert(err.getMessage.contains("foldable"))
  }

  test("SQL registration rejects NULL vocab, NULL vocab elements, and duplicate needles with the contract error") {
    // a foldable NULL array must raise the contract error, not NPE
    val nullVocab = intercept[Exception] {
      spark.sql("SELECT vocab_counts(array('x'), CAST(NULL AS ARRAY<STRING>))")
        .collect()
    }
    assert(nullVocab.getMessage.contains("non-null array<string>"))
    val nullElem = intercept[Exception] {
      spark.sql("SELECT vocab_counts(array('x'), array('a', CAST(NULL AS STRING)))")
        .collect()
    }
    assert(nullElem.getMessage.contains("non-null array<string>"))
    // duplicate needles would silently count 0 in later slots — rejected
    val dup = intercept[Exception] {
      spark.sql("SELECT vocab_counts(array('x'), array('a', 'b', 'a'))")
        .collect()
    }
    assert(dup.getMessage.contains("duplicate"))
    // the Column API enforces the same constructor invariant
    val dupCol = intercept[Exception] {
      GraftFunctions.vocabCounts(col("x"), Seq("a", "a"))
    }
    assert(dupCol.getMessage.contains("duplicate"))
  }
}
