package graft

import graft.quality.Quality

class QualitySpec extends SparkSpec {

  test("withinTolerance edges (reference SQLValueCheckOperator semantics)") {
    // pass iff |actual - expected| <= tolerance * expected
    assert(Quality.withinTolerance(240, 240, 0.02))
    // 240 +- 4.8; exact float edges are FP-sensitive, probe just inside/out
    assert(Quality.withinTolerance(236, 240, 0.02))
    assert(Quality.withinTolerance(244, 240, 0.02))
    assert(!Quality.withinTolerance(235, 240, 0.02))   // 5 > 4.8
    assert(!Quality.withinTolerance(245, 240, 0.02))
  }

  test("withObservedStats piggybacks metrics on the caller's action (no extra job)") {
    import spark.implicits._
    val df = Seq((1L, "en"), (2L, null), (3L, "fr"), (4L, null))
      .toDF("doc_id", "lang")
    // baseline: how many Spark jobs a plain count() costs (AQE splits it).
    // Count via the MAX job id, not the id-list length: the status
    // tracker retains a bounded window of jobs, so late in a long suite
    // the list SHRINKS while new jobs run and length deltas go negative;
    // ids themselves are monotone and eviction-proof.
    def jobs = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).maxOption.getOrElse(-1)
    val j0 = jobs
    df.count()
    val baseline = jobs - j0
    val (observed, obs) = Quality.withObservedStats(df, Seq("lang"))
    val j1 = jobs
    val n = observed.count() // the ONLY action — metrics ride along
    assert(n === 4)
    assert(obs.get("n_rows") === 4L)
    assert(obs.get("lang_nulls") === 2L)
    // profile() would cost a second scan; observe costs zero extra jobs
    assert(jobs - j1 === baseline,
      s"observation triggered extra jobs: ${jobs - j1} vs baseline $baseline")
  }

  test("countGate returns count on pass, throws on fail") {
    import spark.implicits._
    val df = (1 to 100).toDF("n")
    assert(Quality.countGate(df, 100, 0.0) === 100)
    assert(Quality.countGate(df, 98, 0.03) === 100)
    val e = intercept[Quality.QualityCheckFailure] {
      Quality.countGate(df, 90, 0.02)
    }
    assert(e.actual === 100.0)
  }

  test("checkCount: the gate's pure decision, at the reference's 240 +- 2% edges") {
    assert(Quality.checkCount(244, 240, 0.02) === 244)
    assert(Quality.checkCount(236, 240, 0.02) === 236)
    val e = intercept[Quality.QualityCheckFailure] {
      Quality.checkCount(245, 240, 0.02)
    }
    assert(e === Quality.QualityCheckFailure(245.0, 240.0, 0.02))
    assert(e.getMessage ===
      "quality check failed: actual=245.0 not within 2.0% of expected=240.0")
  }
}
