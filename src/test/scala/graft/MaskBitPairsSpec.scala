package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** The native mask_bit_pairs expansion (q204's pair step) must agree with
  * a reference Scala expansion on every ≤63-bit mask shape, in both
  * codegen and interpreted paths, and register as a SQL function. Also
  * pins the array<long> overload of sorted_intersect_size (the q20
  * digest-array verify) against size(array_intersect). */
class MaskBitPairsSpec extends SparkSpec {

  private def refPairs(m: Long): Seq[Int] = {
    val bits = (0 until 63).filter(i => ((m >> i) & 1L) == 1L)
    for (i <- bits; j <- bits if j >= i) yield i * 64 + j
  }

  test("mask_bit_pairs agrees with the reference expansion on mask shapes") {
    import spark.implicits._
    val masks = Seq(0L, 1L, 2L, 3L, 5L, 0x15L, (1L << 62) | 1L,
      (1L << 63 >>> 1) - 1 /* bits 0..61 */, 0x5555555555555555L & ~(1L << 63))
    val got = masks.toDF("m")
      .select(col("m"), GraftFunctions.maskBitPairs(col("m")).as("p"))
      .as[(Long, Seq[Int])].collect().toMap
    masks.foreach(m => assert(got(m) === refPairs(m), s"mask $m"))
  }

  test("interpreted path matches codegen path") {
    import spark.implicits._
    val df = spark.range(1, 2000)
      .select(GraftFunctions.maskBitPairs(col("id")).as("p"))
      .select(explode(col("p")).as("x"))
    def total(): Long = df.agg(sum(col("x"))).as[Long].head()
    val codegen = total()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(total() === codegen)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("registers as a SQL function; NULL mask yields NULL") {
    import spark.implicits._
    assert(spark.sql("SELECT mask_bit_pairs(CAST(5 AS BIGINT)) AS p")
      .as[Seq[Int]].head() === Seq(0, 2, 2 * 64 + 2))
    val n = spark.range(1).select(GraftFunctions.maskBitPairs(
      lit(null).cast("bigint")).as("p")).collect().head
    assert(n.isNullAt(0))
  }

  test("negative mask (bit 63) fails loudly on both execution paths") {
    // a bit-63 mask would otherwise size the output by all 64 bits while
    // the pair loop scans 0..62 — zero-filled tail slots decoding as
    // spurious (0,0) pairs; as a registered SQL function this must error
    def run(): Unit = spark.range(1)
      .select(GraftFunctions.maskBitPairs(lit(-1L))).collect()
    val e1 = intercept[Exception](run())
    assert(e1.getMessage.contains("mask_bit_pairs") ||
      Option(e1.getCause).exists(_.getMessage.contains("mask_bit_pairs")))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val e2 = intercept[Exception](run())
      assert(e2.getMessage.contains("mask_bit_pairs") ||
        Option(e2.getCause).exists(_.getMessage.contains("mask_bit_pairs")))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("sorted_intersect_size on array<long>: agrees with " +
      "size(array_intersect), both execution paths, edges") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      val a = (1 to rnd.nextInt(40)).map(_ => rnd.nextInt(60).toLong)
        .distinct.sorted
      val b = (1 to rnd.nextInt(40)).map(_ => rnd.nextInt(60).toLong)
        .distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
    def mismatches(): Long = df.select(
      GraftFunctions.sortedIntersectSize(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mismatches() === 0L)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(mismatches() === 0L)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // mixed types refuse analysis (the contract is same-type arrays)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(GraftFunctions.sortedIntersectSize(
        typedLit(Seq(1L)), typedLit(Seq("a")))).collect()
    }
  }
}
