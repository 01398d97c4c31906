package graft

/** Every entry point and this suite start their session through
  * [[GraftSession]], so these are the settings Bench times and Verify
  * checks against the oracle. */
class GraftSessionSpec extends SparkSpec {

  test("confOverrides trims entries, skips ones without '=', keeps '=' in values") {
    assert(GraftSession.confOverrides(
      " spark.graft.a=1 ,noequals,, spark.graft.b=x=y ") ===
      Seq("spark.graft.a" -> "1", "spark.graft.b" -> "x=y"))
    assert(GraftSession.confOverrides("") === Seq.empty)
  }

  test("confOverrides rejects keys outside spark.graft.*") {
    val e = intercept[IllegalArgumentException](GraftSession.confOverrides(
      "spark.graft.a=1,spark.sql.shuffle.partitions=1"))
    assert(e.getMessage.contains("spark.sql.shuffle.partitions"))
  }

  test("main code reads exactly the three spark.graft.* confs") {
    // every "spark.graft.<key>" string in code (comments skipped): a new
    // query conf doubles the plans Verify and the specs must cover, so
    // adding one means adding it here on purpose
    import scala.jdk.CollectionConverters._
    val key = "\"spark\\.graft\\.([A-Za-z0-9_.]+)".r
    val files = scala.util.Using.resource(
      java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    val keys = files.flatMap(f => java.nio.file.Files.readAllLines(f).asScala)
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("/") }
      .flatMap(l => key.findAllMatchIn(l).map(_.group(1)))
      .toSet
    assert(keys === Set("dedup.digestHex", "audit.sampleDenom", "read.option."))
  }

  test("a started session reports the shared settings") {
    assert(spark.sparkContext.master === "local[4, 2]")
    // a fresh session of the same context carries the builder's settings,
    // whatever an earlier suite set or unset at runtime
    val conf = spark.newSession().conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold") ===
      (256L << 20).toString)
    assert(conf.get("spark.ui.enabled") === "false")
  }

  private def simplePlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))

  test("graft's SQL functions resolve in a fresh session of the context") {
    val r = spark.newSession().sql(
      "SELECT vec_dot(array(1F, 2F), array(3F, 4F)) AS d, " +
        "sq8_dot(sq8_pack(array(1L, 2L)), sq8_pack(array(3L, 4L))) AS q, " +
        "zorder_code(1, 2) AS z").collect().head
    assert(r.getDouble(0) === 11.0)
    assert(r.getLong(1) === 11L)
    assert(r.getLong(2) === 9L) // 1 -> bit 0, 2 -> bit 1 of dim 1 -> bit 3
  }

  test("TopK.perKey plans TopKPerKey without touching extraStrategies") {
    import org.apache.spark.sql.functions.col
    val df = graft.plans.TopK.perKey(graft.sources.Tables.orders(spark, sfDir),
      Seq(col("o_custkey")), Seq(col("o_totalprice").desc), 2)
    df.collect()
    val p = simplePlan(df)
    assert(p.contains("TopKPerKey"), p.take(600))
    assert(!spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
  }

  test("a row_number() <= k filter keeps Spark's WindowGroupLimit, not TopKPerKey") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val df = graft.sources.Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    df.collect()
    val p = simplePlan(df)
    assert(p.contains("WindowGroupLimit"), p.take(900))
    assert(!p.contains("TopKPerKey"), p.take(900))
  }
}
