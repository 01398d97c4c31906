package graft

import org.apache.spark.sql.functions._
import graft.functions.ZOrderCode

/** Morton interleave contract: known bit patterns, clamping, null → 0,
  * and codegen == interpreted (literal inputs constant-fold through the
  * interpreted eval; column inputs run the generated code). */
class ZOrderCodeSpec extends SparkSpec {

  private def z2(a: Long, b: Long): Long =
    spark.range(1).select(ZOrderCode.code(Seq(lit(a), lit(b))))
      .collect().head.getLong(0)

  test("2-D interleave places dim0 bits at even, dim1 at odd positions") {
    assert(z2(3, 0) === 5L)   // 0b11 -> 0b0101
    assert(z2(0, 3) === 10L)  // 0b11 -> 0b1010
    assert(z2(3, 3) === 15L)
    assert(z2(1, 2) === 9L)   // 0b1 even + 0b10 odd -> 0b1001
  }

  test("codes clamp into the per-dimension bit budget; nulls become 0") {
    assert(z2(-5, 0) === 0L)
    val bits = 62 / 2
    val maxCode = (1L << bits) - 1
    assert(z2(Long.MaxValue, 0) === z2(maxCode, 0))
    val withNull = spark.range(1)
      .select(ZOrderCode.code(Seq(lit(null).cast("long"), lit(3L))))
      .collect().head.getLong(0)
    assert(withNull === 10L) // null dim contributes nothing
  }

  test("zorder_code registers as a SQL function (integral args coerced)") {
    import spark.implicits._
    val r = spark.sql("SELECT zorder_code(3, 0L) AS z").as[Long].head()
    assert(r === 5L)
  }

  test("generated code matches the interpreted eval on column inputs") {
    import spark.implicits._
    val rows = spark.range(1000)
      .select((col("id") * 7 % 101).as("a"), (col("id") * 13 % 97).as("b"))
    val got = rows.select(col("a"), col("b"),
        ZOrderCode.code(Seq(col("a"), col("b"))).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) =>
      val expect = graft.functions.ZOrderCode.spreadDim(a, 2, 31) |
        (graft.functions.ZOrderCode.spreadDim(b, 2, 31) << 1)
      assert(z === expect, s"($a,$b)")
    }
    // z-order locality sanity: sorting by z clusters BOTH dims
    val sorted = got.sortBy(_._3).map(t => (t._1, t._2))
    val runA = sorted.sliding(2).count(p => math.abs(p(1)._1 - p(0)._1) <= 16)
    assert(runA > sorted.length / 2, s"dim a jumps too much: $runA")
  }
}
