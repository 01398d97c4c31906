package graft

import graft.queries.TextQueries

/** The digest-width path (`spark.graft.dedup.digestHex`) the scale
  * ladder runs: a collision-free width must reproduce the exact output
  * of every query keyed on the digest, and an out-of-range width is
  * rejected rather than clamped. The full 32-hex digest stays the
  * oracle-checked default. */
class ApproxPathsSpec extends SparkSpec {

  private def withConf[T](key: String, v: String)(body: => T): T = {
    spark.conf.set(key, v)
    try body finally spark.conf.unset(key)
  }

  // ---- digest width ------------------------------------------------

  test("q178/q182: the 16-hex (64-bit) digest reproduces the exact output on the fixture") {
    // The 100-TB path: both the spans and the rewrite depend on the digest
    // only through equality, and truncation is applied identically to every
    // window, so any digest width without a collision in the corpus yields
    // byte-identical results. The fixture has no 64-bit collisions; at
    // 10^10 windows the collision odds (~n^2/2^65) only ever OVER-count
    // duplication — documented in winDigest's scaladoc.
    val exactSpans = TextQueries.q178DupSpans(spark, sfDir)
      .orderBy("doc_id").collect().toSeq
    val exactRewrite = TextQueries.q182DedupRewrite(spark, sfDir)
      .orderBy("doc_id").collect().toSeq
    withConf("spark.graft.dedup.digestHex", "16") {
      assert(TextQueries.q178DupSpans(spark, sfDir)
        .orderBy("doc_id").collect().toSeq === exactSpans)
      assert(TextQueries.q182DedupRewrite(spark, sfDir)
        .orderBy("doc_id").collect().toSeq === exactRewrite)
    }
    assert(exactRewrite.nonEmpty, "fixture should contain duplicated spans")
  }

  test("q57/q115/q187: the 16-hex gram-key digest reproduces the exact output on the fixture") {
    // gramKeyOpt: the short-gram families key their corpus-wide shuffles
    // on md5-truncated digests under the same conf. Output depends on the
    // key only through equality (q115/q187 emit counts; q57 carries the
    // gram as a payload), so any collision-free width is byte-identical.
    val exact57 = TextQueries.q57GramPostings(spark, sfDir)
      .orderBy("gram").collect().toSeq
    val exact115 = TextQueries.q115BigramLogprob(spark, sfDir)
      .orderBy("doc_id").collect().toSeq
    val exact187 = TextQueries.q187GramCollision(spark, sfDir)
      .orderBy("source").collect().toSeq
    val exact192 = TextQueries.q192NgramDiversity(spark, sfDir)
      .orderBy("source").collect().toSeq
    withConf("spark.graft.dedup.digestHex", "16") {
      assert(TextQueries.q57GramPostings(spark, sfDir)
        .orderBy("gram").collect().toSeq === exact57)
      assert(TextQueries.q115BigramLogprob(spark, sfDir)
        .orderBy("doc_id").collect().toSeq === exact115)
      assert(TextQueries.q187GramCollision(spark, sfDir)
        .orderBy("source").collect().toSeq === exact187)
      assert(TextQueries.q192NgramDiversity(spark, sfDir)
        .orderBy("source").collect().toSeq === exact192)
    }
    assert(exact57.nonEmpty && exact115.nonEmpty && exact187.nonEmpty)
  }

  test("q178: digestHex outside [8, 32] is rejected, not silently clamped") {
    withConf("spark.graft.dedup.digestHex", "4") {
      intercept[IllegalArgumentException] {
        TextQueries.q178DupSpans(spark, sfDir)
      }
    }
  }

  test("digestHex: an odd width is rejected on the gram path (q57) and the window path (q178) alike") {
    withConf("spark.graft.dedup.digestHex", "15") {
      val gram = intercept[IllegalArgumentException] {
        TextQueries.q57GramPostings(spark, sfDir)
      }
      val window = intercept[IllegalArgumentException] {
        TextQueries.q178DupSpans(spark, sfDir)
      }
      assert(gram.getMessage.contains("must be even and in [8, 32], got 15"))
      assert(window.getMessage === gram.getMessage)
    }
  }
}
