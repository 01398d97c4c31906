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
}
