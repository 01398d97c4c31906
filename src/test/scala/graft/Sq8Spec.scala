package graft

import org.apache.spark.sql.functions._
import graft.queries.SimilarityQueries
import graft.sources.Tables

/** q213 — SQ8 scalar-quantized retrieval audit: quantization bounds,
  * output shape, and the recall flags' internal consistency. Value
  * exactness vs DuckDB is the driver gate's job; these are the operator
  * invariants that hold at any scale. */
class Sq8Spec extends SparkSpec {

  test("quantized coordinates stay within [-127, 127] at the corpus scale") {
    val emb = Tables.embeddings(spark, sfDir)
    val maxabs = emb.agg(max(expr(
      "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, v) -> greatest(a, abs(CAST(v AS DOUBLE))))")))
      .head().getDouble(0)
    val outOfRange = emb.select(explode(transform(col("embedding"), v =>
        floor(v.cast("double") * lit(127.0) / lit(maxabs)).cast("long"))).as("q"))
      .filter(col("q") > 127 || col("q") < -127)
      .count()
    assert(outOfRange === 0L)
  }

  test("sq8Quantize saturates at +-127 when maxabs is below the data, and the result packs") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    import graft.ops.Similarity
    val xs = Seq(-1e9, -5.0, -2.0, -1.0, 0.0, 1.0, 2.0, 5.0, 1e9)
    // floor(x * 127 / 2): every |x| >= maxabs = 2 lands on the clamp
    val expected = Seq(-127L, -127L, -127L, -64L, 0L, 63L, 127L, 127L, 127L)
    val qv = Similarity.sq8Quantize(typedLit(xs), maxabs = 2.0)
    val (q, packed) = spark.range(1)
      .select(qv.as("q"), GraftFunctions.sq8Pack(qv).as("b"))
      .as[(Seq[Long], Array[Byte])].head()
    assert(q === expected)
    assert(packed.toSeq === expected.map(_.toByte))
  }

  test("q213 output: 5 ranks per probe, integer scores in the dot bound, flags consistent") {
    // the emptiness assert below is about THIS query's pins, not whatever
    // an earlier suite left in the shared session
    spark.sharedState.cacheManager.clearCache()
    val rows = SimilarityQueries.q213Sq8Recall(spark, sfDir).collect()
    val byQid = rows.groupBy(_.getLong(0))
    assert(byQid.nonEmpty)
    val dotBound = 64L * 127 * 127
    byQid.foreach { case (qid, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to 5L),
        s"qid $qid ranks not 1..5")
      // ranked by score desc (ties broken by id, so score is non-increasing)
      val scores = rs.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      rs.foreach { r =>
        assert(math.abs(r.getLong(3)) <= dotBound)
        assert(r.getLong(4) == 0L || r.getLong(4) == 1L)
      }
    }
    // the audit is non-vacuous: 8-bit quantization keeps most of the
    // exact top-5 (95% at sf0.01, measured; floor asserted loosely here)
    val hits = rows.map(_.getLong(4)).sum
    assert(hits * 2 >= rows.length, s"sq8 recall collapsed: $hits/${rows.length}")
    assert(spark.sharedState.cacheManager.isEmpty, "q213 left cache pinned")
  }

  test("q214 (IVF-bounded sq8) candidates are a subset regime: recall <= q213's, shape identical") {
    spark.sharedState.cacheManager.clearCache()
    def byQid(rows: Array[org.apache.spark.sql.Row]) = rows.groupBy(_.getLong(0))
    val brute = SimilarityQueries.q213Sq8Recall(spark, sfDir).collect()
    val ivf = SimilarityQueries.q214IvfSq8(spark, sfDir).collect()
    assert(byQid(ivf).keySet == byQid(brute).keySet)
    byQid(ivf).foreach { case (qid, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length),
        s"qid $qid ranks not contiguous")
      assert(rs.length <= 5)
    }
    // same quantizer on both arms: any (qid, neighbor) pair both arms
    // rank must carry the IDENTICAL integer score (candidate bounding
    // changes the candidate SET, never a score)
    val bruteScore = brute.map(r => ((r.getLong(0), r.getLong(2)), r.getLong(3))).toMap
    ivf.foreach { r =>
      bruteScore.get((r.getLong(0), r.getLong(2))).foreach { sc =>
        assert(sc == r.getLong(3),
          s"score mismatch for (${r.getLong(0)}, ${r.getLong(2)})")
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty, "q214 left cache pinned")
  }

  test("sq8_pack/sq8_dot: the packed byte kernel equals long_vec_dot on the quantized corpus, codegen == interpreted") {
    import graft.functions.GraftFunctions
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val qv = Similarity.sq8Quantize(col("embedding"), Similarity.sq8MaxAbs(emb))
    // pair every vector with a shifted copy of the corpus so the dot runs
    // over distinct operands, then compare kernels row-by-row
    val quant = emb.select(col("vec_id"), qv.as("qv"),
      GraftFunctions.sq8Pack(qv).as("qb"))
    val other = quant.select(((col("vec_id") + 7) % 500).as("vec_id"),
      col("qv").as("qv2"), col("qb").as("qb2"))
    def mismatches(): Long = quant.join(other, Seq("vec_id"))
      .filter(GraftFunctions.sq8Dot(col("qb"), col("qb2")) =!=
        GraftFunctions.longVecDot(col("qv"), col("qv2")))
      .count()
    assert(mismatches() === 0L)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(mismatches() === 0L)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("sq8_pack range contract and sq8_dot length contract") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    // boundary values pack and round-trip through the dot exactly
    val d = spark.range(1).select(GraftFunctions.sq8Dot(
      GraftFunctions.sq8Pack(typedLit(Seq(-127L, 0L, 127L))),
      GraftFunctions.sq8Pack(typedLit(Seq(127L, 5L, -127L)))).as("d"))
      .as[Long].head()
    assert(d === -127L * 127 * 2)
    // out-of-range input fails loudly — packing unquantized data is a bug
    val err = intercept[Exception] {
      spark.range(1).select(GraftFunctions.sq8Pack(
        typedLit(Seq(128L))).as("b")).collect()
    }
    assert(err.getMessage != null)
    // mismatched payload lengths yield NULL, matching long_vec_dot
    val nullOut = spark.range(1).select(GraftFunctions.sq8Dot(
      GraftFunctions.sq8Pack(typedLit(Seq(1L, 2L))),
      GraftFunctions.sq8Pack(typedLit(Seq(1L)))).as("d")).collect().head
    assert(nullOut.isNullAt(0))
  }

  test("q215: the nProbe x quantization cross is internally consistent") {
    spark.sharedState.cacheManager.clearCache()
    val rows = SimilarityQueries.q215IvfSqNprobe(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // all three arms present for every probe
    val byQid = rows.groupBy(_._2)
    byQid.foreach { case (qid, rs) =>
      assert(rs.map(_._1).sorted.toSeq == Seq(1L, 2L, 4L),
        s"qid $qid missing an nProbe arm")
      // candidate volume is monotone in probe width (probe lists nest)
      val byNp = rs.map(r => r._1 -> r._3).toMap
      assert(byNp(1L) <= byNp(2L) && byNp(2L) <= byNp(4L),
        s"qid $qid candidate counts not monotone: $byNp")
      rs.foreach(r => assert(r._4 >= 0L && r._4 <= 5L))
    }
    // the np=2 arm IS q214's shape: per-qid hit sums must agree
    val q214Hits = SimilarityQueries.q214IvfSq8(spark, sfDir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(4)).sum).toMap
    val np2Hits = rows.filter(_._1 == 2L).map(r => r._2 -> r._4).toMap
    assert(np2Hits === q214Hits)
    assert(spark.sharedState.cacheManager.isEmpty, "q215 left cache pinned")
  }
}
