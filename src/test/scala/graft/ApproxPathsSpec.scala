package graft

import org.apache.spark.sql.functions._
import graft.queries.TextQueries

/** The executable 100 TB paths of q89 (`spark.graft.approx.vocab.k`,
  * top-K vocabulary + OOV floor) and q126 (`spark.graft.dfcap`,
  * Henzinger stop-shingle cap): each must reproduce the exact output
  * when its bound doesn't bind, keep the exact plan shape, and degrade
  * only in the documented direction (scores/recall go DOWN, never up)
  * when it does. Exact mode stays the oracle-checked default. */
class ApproxPathsSpec extends SparkSpec {

  private def withConf[T](key: String, v: String)(body: => T): T = {
    spark.conf.set(key, v)
    try body finally spark.conf.unset(key)
  }

  // ---- q89 top-K vocabulary -----------------------------------------

  test("q89: K >= |vocab| reproduces the exact output bit for bit") {
    val exact = TextQueries.q89UnigramLogprob(spark, sfDir)
      .orderBy("doc_id").collect()
    val k = 1000000 // far above the fixture vocabulary
    val approx = withConf("spark.graft.approx.vocab.k", k.toString)(
      TextQueries.q89UnigramLogprob(spark, sfDir).orderBy("doc_id").collect())
    assert(approx.toSeq === exact.toSeq)
  }

  test("q89: a binding K keeps the broadcast shape and only lowers scores") {
    val exact = TextQueries.q89UnigramLogprob(spark, sfDir)
      .select("doc_id", "avg_logprob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val df = withConf("spark.graft.approx.vocab.k", "3")(
      TextQueries.q89UnigramLogprob(spark, sfDir))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "top-K model no longer broadcasts onto the token stream:\n" + p.take(800))
    assert(p.contains("TakeOrderedAndProject"),
      "top-K cut is not planned as per-partition top-K:\n" + p.take(800))
    val approx = df.select("doc_id", "avg_logprob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(approx.keySet === exact.keySet, "docs must never drop")
    // the OOV floor (count 0.5) sits strictly below every real token's
    // logprob, so a doc's mean can only move down
    approx.foreach { case (id, v) =>
      assert(v <= exact(id) + 1e-9, s"doc $id scored HIGHER under top-K")
    }
    assert(approx.exists { case (id, v) => v < exact(id) - 1e-9 },
      "K=3 should actually bind on the fixture")
  }

  // ---- q68 approx medians --------------------------------------------

  test("q68: approx mode keeps the schema and satisfies the median rank bound") {
    import graft.queries.DateTimeQueries
    import graft.sources.Tables
    val exact = DateTimeQueries.q68RobustOutliers(spark, sfDir)
    val approx = withConf("spark.graft.approx.percentile", "true")(
      DateTimeQueries.q68RobustOutliers(spark, sfDir))
    assert(approx.schema === exact.schema)
    // rank property of the approx median per event_type (groups here are
    // far below the 10k sketch buffer, so ranks are exact)
    val meds = withConf("spark.graft.approx.percentile", "true")(
      DateTimeQueries.q68RobustOutliers(spark, sfDir)
        .select("event_type", "med").distinct().collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap)
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    meds.foreach { case (t, m) =>
      val vals = ev.filter(col("event_type") === t)
      val n = vals.count().toDouble
      val below = vals.filter(col("value") < m).count()
      val atMost = vals.filter(col("value") <= m).count()
      assert(below <= n * 0.5 + 1, s"$t: median too high")
      assert(atMost >= n * 0.5 - 1, s"$t: median too low")
    }
  }

  // ---- q126 df cap ---------------------------------------------------

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("q126: a cap above max df reproduces the exact output") {
    val exact = pairsOf(TextQueries.q126PrefixJoin(spark, sfDir))
    spark.catalog.clearCache()
    val capped = withConf("spark.graft.dfcap", "1000000")(
      pairsOf(TextQueries.q126PrefixJoin(spark, sfDir)))
    spark.catalog.clearCache()
    assert(capped === exact)
    assert(exact.nonEmpty, "fixture should contain J >= 0.5 pairs")
  }

  // ---- q178/q182 digest width -----------------------------------------

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

  test("q71: a conf'd step count trains a strict prefix of the default merge table") {
    // merges are trained sequentially, so step count only truncates: the
    // conf (the ladder's cost knob) can never change trained content
    val full = TextQueries.q71BpeMerges(spark, sfDir).orderBy("step").collect().toSeq
    assert(full.size === 8)
    withConf("spark.graft.bpe.steps", "3") {
      val short = TextQueries.q71BpeMerges(spark, sfDir).orderBy("step").collect().toSeq
      assert(short === full.take(3))
    }
    withConf("spark.graft.bpe.steps", "0") {
      intercept[IllegalArgumentException] {
        TextQueries.q71BpeMerges(spark, sfDir).collect()
      }
    }
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

  // ---- q179/q181 bounded query set ------------------------------------

  test("q179/q181: queryCap >= |queries| reproduces the exact output; a binding cap is a pure workload restriction") {
    import graft.queries.SimilarityQueries
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val exact179 = rows(TextQueries.q179Bm25(spark, sfDir))
    val exact181 = rows(SimilarityQueries.q181HybridRrf(spark, sfDir))
    withConf("spark.graft.retrieval.queryCap", "1000000") {
      assert(rows(TextQueries.q179Bm25(spark, sfDir)) === exact179)
      assert(rows(SimilarityQueries.q181HybridRrf(spark, sfDir)) === exact181)
    }
    // a binding cap keeps the K SMALLEST qids and leaves their rows
    // byte-identical — corpus statistics are computed before the cap joins
    val k = 3
    val keep = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id")).where(col("doc_id") % 100 === 0)
      .orderBy(col("doc_id")).limit(k)
      .collect().map(_.getLong(0)).toSet
    assert(keep.size === k, "fixture must have more than k query docs")
    val exactKept179 = TextQueries.q179Bm25(spark, sfDir).collect()
      .filter(r => keep(r.getLong(0))).map(_.toString).toSeq.sorted
    val exactKept181 = SimilarityQueries.q181HybridRrf(spark, sfDir).collect()
      .filter(r => keep(r.getLong(0))).map(_.toString).toSeq.sorted
    assert(exactKept179.nonEmpty, "the kept queries should retrieve something")
    withConf("spark.graft.retrieval.queryCap", k.toString) {
      assert(rows(TextQueries.q179Bm25(spark, sfDir)) === exactKept179)
      assert(rows(SimilarityQueries.q181HybridRrf(spark, sfDir)) === exactKept181)
    }
  }

  test("q126 auto df-cap: identical to exact when the corpus is not skewed") {
    val exact = pairsOf(TextQueries.q126PrefixJoin(spark, sfDir))
    spark.catalog.clearCache()
    val auto = withConf("spark.graft.dfcap", "auto")(
      pairsOf(TextQueries.q126PrefixJoin(spark, sfDir)))
    spark.catalog.clearCache()
    assert(auto === exact,
      "the fixture measures far below the trigger; auto must run exact")
  }

  test("q126 auto df-cap: engages on a synthetic df-exploded corpus") {
    import spark.implicits._
    // 300 identical documents: every shingle's df = 300, so the pair
    // stream is 3 * 300^2 rows from 900 postings — mean fan-out 300,
    // far past the default factor-64 trigger
    val docs = (1L to 300L).map(i => (i, Seq("h1", "h2", "h3")))
      .toDF("doc_id", "s")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val exact = pairsOf(TextQueries.q126FromDocs(spark, docs))
      assert(exact.size === 300 * 299 / 2, "all pairs are exact duplicates")
      val auto = withConf("spark.graft.dfcap", "auto")(
        pairsOf(TextQueries.q126FromDocs(spark, docs)))
      assert(auto.keySet.subsetOf(exact.keySet),
        "the engaged cap must never ADD pairs")
      assert(auto.size < exact.size,
        "every shingle is a stop-shingle here; the cap must bind")
      // a LOOSE factor must leave the same corpus exact: the trigger is
      // measured, not unconditional
      val loose = withConf("spark.graft.dfcap.autofactor", "1000000")(
        withConf("spark.graft.dfcap", "auto")(
          pairsOf(TextQueries.q126FromDocs(spark, docs))))
      assert(loose === exact)
    } finally { docs.unpersist(); spark.catalog.clearCache(); () }
  }

  test("q126 auto df-cap: exact powers of two land in their own log2 band") {
    import spark.implicits._
    val dfs = Seq(1L, 2L, 3L, 7L, 8L, 1023L, 1024L, Long.MaxValue)
    val bands = dfs.toDF("df").select(TextQueries.dfBand(col("df")))
      .as[Int].collect().toSeq
    assert(bands === Seq(0, 1, 1, 2, 3, 9, 10, 62))
  }

  test("q126: a binding cap yields a subset with per-pair J <= exact") {
    val exact = pairsOf(TextQueries.q126PrefixJoin(spark, sfDir))
    spark.catalog.clearCache()
    val capped = withConf("spark.graft.dfcap", "2")(
      pairsOf(TextQueries.q126PrefixJoin(spark, sfDir)))
    spark.catalog.clearCache()
    assert(capped.keySet.subsetOf(exact.keySet),
      "capping the index must never ADD pairs")
    capped.foreach { case (pair, j) =>
      assert(j <= exact(pair) + 1e-9, s"pair $pair gained similarity under the cap")
    }
  }

  // ---- q183 target-source knob --------------------------------------

  test("q183: the default target is src0; retargeting swaps roles symmetrically") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long, Long)].collect().toSet
    val deflt = rows(graft.queries.TextQueries.q183DsirWeights(spark, sfDir))
    val explicit = withConf("spark.graft.dsir.target", "src0") {
      rows(graft.queries.TextQueries.q183DsirWeights(spark, sfDir))
    }
    assert(explicit === deflt, "explicit src0 must equal the default")
    val retargeted = withConf("spark.graft.dsir.target", "src1") {
      rows(graft.queries.TextQueries.q183DsirWeights(spark, sfDir))
    }
    // role swap: src0 docs are now scored (they're raw), src1 docs are not
    assert(retargeted.exists(_._2 == "src0"))
    assert(!retargeted.exists(_._2 == "src1"))
    assert(!deflt.exists(_._2 == "src0"))
  }
}
