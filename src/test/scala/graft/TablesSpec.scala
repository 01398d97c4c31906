package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import graft.sources.Tables

/** `Tables`' schema memo: a table's parquet schema is inferred once per
  * table version, so a repeated load runs no inference job, yet reads the
  * same schema and rows as a plain `spark.read.parquet`, notices a table
  * rewritten in place, keeps Spark's error for a missing path, and still
  * builds a fresh relation per load (self-joins resolve). */
class TablesSpec extends SparkSpec {

  private def load(name: String): DataFrame =
    if (name == "events") Tables.events(spark, sfDir)
    else Tables.load(spark, sfDir, name)

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  test("a repeated load of every table launches no job") {
    // events sets the session-wide nanosAsLong conf, part of every table's
    // key: load it first so the warm pass already sees the final conf
    ("events" +: Tables.names).foreach(load)
    Tables.names.foreach { n =>
      assert(jobsAndExecutions { load(n); () }._1 === 0, s"reloading $n ran a job")
    }
  }

  test("memoized loads read the schema and rows of a plain parquet read") {
    // events' nanos column needs the legacy conf on both sides
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach { n =>
      Tables.load(spark, sfDir, n)
      val memo = Tables.load(spark, sfDir, n)
      val plain = spark.read.parquet(Tables.tablePath(sfDir, n))
      assert(memo.schema === plain.schema, s"$n schema")
      assert(multiset(memo) === multiset(plain), s"$n rows")
    }
  }

  test("a table rewritten at the same path is inferred again") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables_memo").toString
    val path = Tables.tablePath(dir, "t")
    Seq((1L, "x")).toDF("id", "a").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("id", "a"))
    Seq((2L, "y", 3)).toDF("id", "a", "b").write.mode("overwrite").parquet(path)
    val reread = Tables.load(spark, dir, "t")
    assert(reread.columns.toSeq === Seq("id", "a", "b"))
    assert(reread.as[(Long, String, Int)].collect().toSeq === Seq((2L, "y", 3)))
  }

  test("a missing path still throws Spark's AnalysisException") {
    val dir = java.nio.file.Files.createTempDirectory("tables_missing").toString
    intercept[AnalysisException](Tables.load(spark, dir, "nation"))
  }

  test("a self-join of two loads of one table resolves") {
    def selfJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, a("n_regionkey") === b("n_nationkey"))
        .select(a("n_nationkey"), b("n_name"))
    def plain = spark.read.parquet(Tables.tablePath(sfDir, "nation"))
    val joined = selfJoin(Tables.load(spark, sfDir, "nation"),
      Tables.load(spark, sfDir, "nation"))
    assert(joined.count() > 0)
    assert(multiset(joined) === multiset(selfJoin(plain, plain)))
  }
}
