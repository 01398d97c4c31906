package graft

import org.apache.spark.sql.functions._
import graft.ops.Urls

/** URL canonicalization unit contracts + the q193/q194 fixture invariants.
  * Each canonicalizer rule is pinned on a literal where ONLY that rule
  * fires, then on a kitchen-sink literal where all fire at once.
  */
class UrlsSpec extends SparkSpec {

  private def canon(raw: String): String =
    spark.range(1).select(Urls.canonicalUrl(lit(raw)).as("c"))
      .collect()(0).getString(0)

  test("canonicalUrl: host lowered + www/:80 stripped, path case PRESERVED, params de-tracked and sorted") {
    assert(canon("HTTP://WWW.Site.Example.COM:80/A/B/?b=2&utm_x=1&a=1#frag")
      === "http://site.example.com/A/B?a=1&b=2")
  }

  test("canonicalUrl: bare host gets the root path; a tracker-only query vanishes") {
    assert(canon("http://example.com") === "http://example.com/")
    assert(canon("http://example.com/?utm_source=x") === "http://example.com/")
  }

  test("canonicalUrl: fragment is cut BEFORE the query split — a '?' inside the fragment is not a query") {
    assert(canon("http://example.com/p#frag?notquery=1")
      === "http://example.com/p")
  }

  test("canonicalUrl: www only strips as a host PREFIX; interior 'www.' and non-80 ports survive") {
    assert(canon("http://notwww.example.com/p") === "http://notwww.example.com/p")
    assert(canon("http://example.com:8080/p") === "http://example.com:8080/p")
  }

  test("syntheticRawUrl: the three raw variants of one group collapse to one canonical form") {
    import spark.implicits._
    val c = Seq((30L, "srcx"), (31L, "srcx"), (32L, "srcx"))
      .toDF("doc_id", "source")
      .select(Urls.canonicalUrl(
        Urls.syntheticRawUrl(col("doc_id"), col("source"))).as("c"))
      .distinct().collect().map(_.getString(0)).toSeq
    assert(c === Seq("http://srcx.example.com/articles/10?id=10"))
  }

  test("q193 on the fixture: groups of <=3, one raw form per doc, keeper is the min id, canonical forms carry no junk") {
    val rows = graft.queries.WebQueries.q193UrlCanonical(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val u = r.getAs[String]("canonical_url")
      val n = r.getAs[Long]("n_docs")
      assert(n >= 1 && n <= 3, s"group size out of range: $r")
      assert(r.getAs[Long]("n_raw_forms") === n, s"raw forms != docs: $r")
      assert(u.startsWith("http://") && !u.contains("www.") &&
        !u.contains(":80") && !u.contains("#") && !u.contains("utm_"),
        s"uncanonical survivor: $u")
    }
  }

  test("q194 on the fixture: one row per source host, dup share consistent with the group sizes") {
    val rows = graft.queries.WebQueries.q194HostRollup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val docs = r.getAs[Long]("n_docs")
      val urls = r.getAs[Long]("n_urls")
      assert(docs >= urls && urls >= 1)
      assert(r.getAs[Long]("dup_bp") ===
        (2 * (docs - urls) * 10000 + docs) / (2 * docs))
      assert(r.getAs[String]("host").endsWith(".example.com"))
    }
  }

  test("ASCII case maps agree with upper/lower on every printable ASCII character") {
    val ascii = (32 to 126).map(_.toChar).mkString
    val r = spark.range(1).select(lit(ascii).as("s"))
      .select(Urls.asciiUpper(col("s")) === upper(col("s")),
        Urls.asciiLower(col("s")) === lower(col("s")))
      .collect()(0)
    assert(r.getBoolean(0) && r.getBoolean(1))
  }

  test("q24/q193/q194 case-map their ASCII domains without Spark's Unicode upper/lower") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{Lower, Upper}
    import graft.queries.{MediaQueries, WebQueries}
    def caseMaps(df: DataFrame) = df.queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.collect { case e @ (_: Lower | _: Upper) => e }))
    // the probe sees a Unicode case map where there is one
    assert(caseMaps(spark.range(1).select(lower(lit("A")))).nonEmpty)
    for ((name, df) <- Seq(
        "q24" -> MediaQueries.q24BinaryMeta(spark, sfDir),
        "q193" -> WebQueries.q193UrlCanonical(spark, sfDir),
        "q194" -> WebQueries.q194HostRollup(spark, sfDir)))
      assert(caseMaps(df).isEmpty, s"$name: ${caseMaps(df)}")
  }
}
