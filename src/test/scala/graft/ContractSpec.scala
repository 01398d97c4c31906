package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.RangeJoin

/** Driver-contract safety nets: every declared query must build and run on
  * the smallest fixture, oracle keys must match query keys exactly (a typo
  * here silently weakens the correctness gate to rows-only), and operator
  * guards hold. */
class ContractSpec extends SparkSpec {

  /** Leaf queries whose Scaladoc documents a cache contract: they return a
    * LAZY frame that depends on a persisted intermediate, so the release
    * point is the caller's clearCache() (Bench/Verify do exactly that).
    * Any OTHER query leaving cache entries is a leak — the blanket
    * invariant below (mirroring PlanSpec's plan sweep) catches the next
    * query that persists without either unpersisting before return or
    * documenting the contract and being listed here. */
  private val cacheContract = Set(
    "q34_top_tokens",       // wordcount feeds both join sides
    "q20_jaccard_pairs",    // candidate-pair spine drives 3 verify subplans
    "q44_simhash_neardup",  // signature table read 3x (bands + both verify probes)
    "q113_containment",     // candidate-pair spine drives 3 verify subplans
    "q71_bpe_merges",       // corpus frame re-read per merge step
    "q126_prefix_join",     // shingle frame feeds prefix + verify stages
    "q141_pagerank",        // sym/deg state read every iteration
    "q142_kmeans_iters",    // final round's assignment state stays pinned
    "q157_semdedup",        // clustered frame feeds both pair sides + output
    "q179_bm25",            // (doc, gram, tf) frame feeds df/dl/totals/contribution branches
    "q180_pca_power",       // centered array frame scanned twice per power round
    "q181_hybrid_rrf",      // embeds q179's persisted (doc, gram, tf) frame in its lexical arm
    "q183_dsir_weights",    // (doc, bucket) count frame feeds model + scoring aggs
    "q189_fuzzy_decontam",  // candidate-pair spine drives 3 verify subplans
    "q197_jacc_calibration", // candidate-pair spine drives 3 verify subplans (q20's contract)
    "q204_source_gram_overlap", // ≤|sources|²-row matrix feeds diagonal sizes + off-diagonal output
    "q206_vocab_coverage",  // Heaps-bounded (source, token) counts feed vocab cut + coverage rollup
    "q208_decontam_rewrite") // eval-suite-bounded digest set feeds sizing count + bloom + verify semi

  test("every SparkEntry query executes at sf0.001 and leaves no undocumented cache") {
    spark.catalog.clearCache()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n >= 0, s"$name failed")
      val leaked = !spark.sharedState.cacheManager.isEmpty
      assert(!leaked || cacheContract(name),
        s"$name left cache entries with no documented cache contract " +
          "(unpersist before returning, or document the contract and " +
          "whitelist it here)")
      spark.catalog.clearCache()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"clearCache after $name left entries behind")
    }
  }

  test("every query has an oracle and every oracle has a query") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val orphans = os.diff(qs)
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
    assert(qs.diff(os) === Set.empty, s"queries without oracles: ${qs.diff(os)}")
  }

  test("entry returns fact rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("inverted intervals contribute nothing to the interval join") {
    import spark.implicits._
    val left = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("k", "ts")
    val bad = Seq((1L,
      Timestamp.valueOf("2024-01-02 00:00:00"), // lo AFTER hi
      Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("k", "lo", "hi")
    val out = RangeJoin.intervalJoin(left, bad, "ts", "lo", "hi", Seq("k"), 600L)
    assert(out.count() === 0)
  }
}
