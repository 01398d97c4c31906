package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis => TA}
import graft.sources.Tables

/** Training-data text operators over the `documents` fixture: token/quality
  * stats, language-ID heuristic, fingerprinting, exact dedup, MinHash+LSH
  * near-dup candidates, Jaccard verification, SimHash. All higher-order
  * Column expressions (no UDFs); every query has a value-exact DuckDB twin.
  */
object TextQueries {

  private val stopwords = Seq("the", "a")

  /** Synthetic marker profiles over the fixture vocabulary — the langId
    * operator takes real character-n-gram profiles in production; the
    * fixture's text is topic-flavored English so profiles are topical. */
  private val profiles = Seq(
    "qry" -> Seq("query", "scan", "filter"),
    "str" -> Seq("stream", "batch", "window"),
    "tab" -> Seq("table", "join", "row"))

  def q15TokenStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("toks") // staged: tokenize once, 4 stats re-read the array
    val n = TA.tokenCount(t)
    val d = TA.distinctTokenCount(t)
    val c = TA.tokenChars(t)
    val s = TA.stopwordCount(t, stopwords)
    val nd = n.cast("double")
    Tables.documents(spark, dir)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
      n.as("n_tokens"),
      d.as("n_distinct"),
      c.as("token_chars"),
      s.as("n_stopwords"),
      round(c.cast("double") / nd, 4).as("avg_token_len"),
      round((lit(0.3) * (d.cast("double") / nd)
        + lit(0.3) * (lit(1.0) - s.cast("double") / nd)
        + lit(0.4) * least(lit(1.0), nd / lit(100.0))), 4).as("quality_score"))
  }

  def q16LangId(spark: SparkSession, dir: String): DataFrame = {
    val scores = TA.langScores(col("text"), profiles)
    val scoreCols = scores.map { case (l, c) => c.as(s"score_$l") }
    Tables.documents(spark, dir).select(
      (col("doc_id") +: scoreCols :+ TA.langPredict(scores).as("predicted")): _*)
  }

  def q17Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TA.rollingHash(col("text")).as("fp"),
      md5(col("text")).as("checksum"))

  def q18DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupByKey(
      Tables.documents(spark, dir),
      Dedup.normKey(col("text")), col("doc_id"))

  /** Staged minhash banding: tokens -> shingles -> signature -> bands, one
    * projection per stage. Staging is load-bearing twice over: (a) each
    * stage's column is referenced many times downstream (12 minhash seeds
    * re-read the shingle array, 6 bands re-read the signature) — keeping it
    * a materialized alias means it's computed ONCE per row instead of once
    * per lambda element (inlined, the pipeline is O(n^2 * k) per doc and
    * measured minutes-slow at sf0.1); CollapseProject keeps the stages
    * because merging would duplicate non-cheap multi-referenced exprs.
    * (b) documents is one small parquet file — a single input partition —
    * but minhash is CPU-bound, so we spread rows across all cores first
    * (at 100 TB the table has thousands of splits and the repartition is
    * unnecessary but harmless: it's narrow-per-row compute either way). */
  /** documents with worker-spread GUARANTEED but not forced: the sf0.1
    * fixture is ONE parquet file, so the CPU-bound per-row pipelines
    * (minhash, simhash, window digests) must fan it across cores; at
    * rung/production scale the scan already has ≥ cores splits and an
    * unconditional repartition is a pure-cost exchange of the full text
    * column — measured at the 1000× rung as the in-suite q197-vs-q20
    * shuffle delta (9.33 vs 4.30 GB: the exchange is RE-PAID per job
    * when the eager spine fill splits the query, since exchange reuse
    * never crosses job boundaries). Conditional on the actual file
    * count, both regimes get the right plan. */
  private def spreadDocs(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
    if (base.inputFiles.length >= spark.sparkContext.defaultParallelism) base
    else base.repartition(spark.sparkContext.defaultParallelism)
  }

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    spreadDocs(spark, dir)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .select(col("doc_id"), Dedup.shingles3(col("toks")).as("sh"))

  private def bandedFrom(sh: DataFrame): DataFrame =
    sh
      .select(col("doc_id"), Dedup.minhashSignature(col("sh")).as("sig"))
      .select(col("doc_id"), explode(Dedup.lshBands(col("sig"))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_key").as("band_key"))

  def q19MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.candidatePairs(bandedFrom(shingled(spark, dir)))

  /** Near-dup verification on LSH candidates with 3-shingle Jaccard — the
    * quantity MinHash actually estimates. (Token-set Jaccard is useless on
    * a small vocabulary: random fixture doc pairs score ~0.5 on token sets
    * but near 0 on shingle sets.)
    *
    * (inter, n1, n2) come from [[pairOverlapCounts]] (sorted digest-array
    * merge walk per candidate pair); see that method for the exchange
    * shape and for why it replaced both the historical array-payload
    * string join (the measured 100×-rung cliff) and the r4–r7 posting
    * co-count (the measured 1000×-rung super-linear shuffle).
    *
    * The shingle frame feeds the banding and the two digest-set frames.
    * Deliberately NOT cached — measured at local[32]/sf0.1: the expensive
    * branch (minhash signatures) runs ONCE either way; the other
    * consumers only re-run the cheap tokenize→shingle narrow maps, while
    * caching pays a columnar encode of fat array<string> rows and severs
    * whole-stage codegen. Contrast q44, where the heavy digest sits in
    * all three branches and persist wins 5×. At 100 TB neither recompute
    * nor cache is right: you materialize the SIGNATURE table (small,
    * reusable) and band/verify off that. */
  /** CACHE CONTRACT: the skinny candidate-pair spine persists until
    * clearCache (Bench/Verify clear per query) — it drives the verify's
    * two digest-side semi-join key sets and the join spine, and
    * recomputing it would re-run the minhash digest three times. Two
    * longs per row. */
  def q20JaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(spark, dir)
    val pairs = Dedup.candidatePairs(bandedFrom(docs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairOverlapCounts(docs, pairs)
      .select(col("doc1"), col("doc2"),
        round(col("inter").cast("double")
          / (col("n1") + col("n2") - col("inter")).cast("double"),
          4).as("jacc"))
      .filter(col("jacc") >= 0.3)
  }

  /** Per-side sorted digest-set frame for [[pairOverlapCounts]]: candidate
    * docs only (semi-joined against the pair spine's `side` ids, so a
    * broadcast-able candidate set keeps non-candidate docs out of the
    * exchange entirely), each doc's distinct 3-shingles hashed to
    * xxhash64 longs and sorted — the merge-walk-ready set. */
  private def digestSide(docs: DataFrame, pairs: DataFrame, side: String,
                         aAs: String): DataFrame =
    docs
      .join(pairs.select(col(side).as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as(side),
        array_sort(array_distinct(transform(col("sh"), g => xxhash64(g))))
          .as(aAs))

  /** Exact (inter, n1, n2) per CANDIDATE pair over distinct-3-shingle
    * DIGEST sets — the verify stage for the LSH candidate queries (q20
    * Jaccard, q113 containment, q189 fuzzy decontam, q197 calibration).
    *
    * Shape: each side's candidate docs carry ONE sorted array<long> of
    * xxhash64 shingle digests; the pair spine joins side 1 (doc-linear
    * exchanges: skinny pairs by doc1 + digest arrays by doc_id), then the
    * (pair, a1) stream meets side 2 on doc2 and `sorted_intersect_size`
    * merges the two sorted arrays in-stage — no groupBy, no count joins,
    * n1/n2 are the array sizes in the same projection. The plan's ONE
    * pair-proportional exchange is the a1 fan-out on doc2 at 8 bytes per
    * set element.
    *
    * Why this replaced the r4–r7 posting co-count form (explode postings,
    * fan pairs by doc1's shingles, join on (doc2, g), count): that shape
    * shuffles Σ_pairs |S1| individual (long, long, gram-string) ROWS and
    * sort-merges them on (doc2, g) — measured at the 1000× rung as the
    * suite's dominant exchange growing super-linearly per decade (q197
    * 541 MB → 11.15 GB on 10.01× candidates — the r7 `weak`; q20 100.4 s
    * at 5M docs). Same asymptotic row count, but ~5× the bytes (string
    * gram keys + per-row join overhead vs packed 8-byte longs) and an
    * n·log n sort of the fan-out stream that the pre-sorted arrays don't
    * pay. The even-earlier corpus-wide Σ_g df(g)² co-occurrence stream
    * stays rejected (measured 10× worse again: 194 s / 27.7 GB at 100×).
    *
    * Digest space: n1/n2/inter all count DISTINCT XXHASH64 VALUES, so the
    * triple is internally consistent; vs the oracle's string sets a
    * divergence needs two distinct shingles of one doc-pair's union to
    * collide in 64 bits — p ≈ |S∪|²/2⁶⁵ < 10⁻¹² per pair at 10³
    * shingles/doc (accepted, same posture as winDigest). Pairs with
    * inter = 0 are dropped to preserve the co-count form's inner-join
    * semantics bit-for-bit (no caller's threshold admits inter = 0; q197
    * bins only verified-overlap candidates — unchanged). NULL digest
    * arrays (shingle-less docs) cannot appear: bandedFrom gives them NULL
    * band keys, so they never enter `pairs`, and the inner join drops
    * their frame rows. `pairs` must be persisted by the caller — it
    * drives three subplans (two semi-join key sets and the join spine). */
  private def pairOverlapCounts(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // join strategy left to the planner (SMJ under AQE), MEASURED against
    // the shuffle_hash alternative at the 1000× rung and kept: hinting
    // both digest sides to SHJ avoided the fan-out sort and won the
    // cold-JVM first run 3× (241 → 82 s), but its hash-relation build
    // (millions of array-payload rows per partition, rebuilt per query)
    // priced steady state at 2190 cpu-s vs SMJ's 859 (q20 second-in-JVM:
    // 51.4 s vs 88.4 s) — and mid-suite (the only committed regime) every
    // run is warm. Numbers in BASELINE.md next to the digestHex=16
    // rejection.
    //
    // Eager spine materialization: the verify reads `pairs` through
    // THREE subplans (two semi-join key sets + the join spine). Filled
    // lazily, whichever subplan the scheduler runs first races the cache
    // fill and can re-run the banding self-join from scratch — measured
    // at the 1000× rung as q197 writing 9.35 GB where q20's identical
    // machinery wrote 4.20 GB. One count() fills the cache before any
    // reader plans against it; the spine is two longs per row.
    pairs.count()
    pairs
      .join(digestSide(docs, pairs, "doc1", "a1"), Seq("doc1"))
      .join(digestSide(docs, pairs, "doc2", "a2"), Seq("doc2"))
      .select(col("doc1"), col("doc2"),
        graft.functions.GraftFunctions.sortedIntersectSize(col("a1"), col("a2"))
          .as("inter"),
        size(col("a1")).cast("long").as("n1"),
        size(col("a2")).cast("long").as("n2"))
      .where(col("inter") > 0)
  }

  /** BPE-ish subword token counting: a GPT-style pre-tokenizer regex
    * (letter runs | digit runs | single non-alnum) counted per class —
    * the real thing a token-budgeted corpus pipeline meters by. One
    * native single-pass counter ([[graft.functions.TokenClassCounts]])
    * replaces the earlier four `regexp_extract_all(...)` scans, which
    * materialized four arrays of match strings per row just to size them;
    * the oracle keeps the regex form (exactness contract in the
    * expression's Scaladoc). */
  def q27BpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TokenClassCounts(col("text")).as("tc"))
      .select(col("doc_id"), col("tc.n_bpe_tokens"), col("tc.n_word_tokens"),
        col("tc.n_number_tokens"), col("tc.n_other_tokens"))

  /** Corpus intake profile: per-source row count, null counts, and
    * n_chars min/max in one pass ([[graft.quality.Quality.profile]]) —
    * the quality gate a training-data pipeline runs on every batch. */
  def q33Profile(spark: SparkSession, dir: String): DataFrame =
    graft.quality.Quality.profile(
      Tables.documents(spark, dir),
      groupBy = Seq("source"),
      nullChecked = Seq("lang", "text"),
      minMax = Seq("n_chars"))

  /** Vocabulary top-k: 20 most frequent tokens with deterministic
    * tie-break. explode+groupBy is the canonical wordcount shuffle
    * (map-side combined); the global top-k is orderBy+limit — Spark plans
    * TakeOrderedAndProject (per-partition bounded top-k, tiny driver
    * merge), so no single partition ever sees the full vocabulary. At
    * 100 TB the vocabulary can be billions of rows and a global
    * Window.orderBy over it would funnel everything to one task — the
    * round-1 shape, now gone. The rank over the k=20 survivors is a
    * broadcast self-join count (rn = #rows ordered ≤ self), not a window:
    * Spark 4's EliminateWindowPartitions folds constant partition keys, so
    * any window here would re-plan as the warned single-partition
    * WindowExec. k² = 400 comparisons, order-independent, no window at
    * all. persist() keeps the wordcount from running for both join sides
    * — a ≤20-row cache entry that lives until clearCache (Bench/Verify
    * clear between queries; library callers own the session cache). */
  def q34TopTokens(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.documents(spark, dir)
      .select(explode(TA.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val other = top.select(col("n").as("n2"), col("token").as("token2"))
    top.join(broadcast(other),
        col("n2") > col("n") ||
          (col("n2") === col("n") && col("token2") <= col("token")))
      .groupBy(col("token"), col("n"))
      .agg(count(lit(1)).cast("int").as("rn"))
  }

  /** Deterministic train/val/test split (~80/10/10 on md5-prefix buckets):
    * a pure function of doc_id, so assignments survive re-runs, engine
    * changes, and corpus growth. */
  def q40Split(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      graft.ops.Sampling.split(col("doc_id")).as("split"))

  /** Stratified deterministic sample: 25 docs per language by hash order —
    * unbiased w.r.t. any data attribute and identical in every engine. */
  def q41Stratified(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratified(
      Tables.documents(spark, dir).select("doc_id", "lang", "source"),
      classCol = col("lang"), id = col("doc_id"), n = 25)

  /** Weighted corpus mixing: keep ~100% of src0, ~50% of src1, ~20% of
    * src2 (hash-bucket thresholds, deterministic per doc). */
  def q42Mix(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.mixBySource(
      Tables.documents(spark, dir).select("doc_id", "source", "n_chars"),
      groupCol = col("source"), id = col("doc_id"),
      upperByGroup = Map("src0" -> "ff", "src1" -> "80", "src2" -> "33"))

  /** Per-language token-budget fill: docs in deterministic hash order until
    * 2000 chars per language (n_chars as the token proxy here). */
  def q43TokenBudget(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.tokenBudget(
      Tables.documents(spark, dir).select("doc_id", "lang", "n_chars"),
      classCol = col("lang"), id = col("doc_id"),
      tokenCol = col("n_chars"), budget = 2000L)

  /** Weighted corpus sampling without replacement: 20 docs per source,
    * inclusion probability proportional to n_chars (longer docs carry more
    * tokens, so token-weighted subcorpora sample by length). Deterministic
    * Efraimidis–Spirakis keys ([[graft.ops.Sampling.weightedSample]]) on
    * the bounded-heap TopKPerKey operator. */
  def q58WeightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedSample(
      Tables.documents(spark, dir).select("doc_id", "source", "n_chars"),
      groupCol = col("source"), id = col("doc_id"),
      weightCol = col("n_chars"), n = 20)
      .select(col("source"), col("doc_id"), col("n_chars"),
        round(col("es_key"), 6).as("es_key"))

  /** Sketch accuracy as a first-class query: for every LSH candidate pair,
    * the MinHash ESTIMATE of Jaccard (fraction of agreeing signature rows)
    * next to the EXACT 3-shingle Jaccard and the absolute error — the
    * number you check before trusting a sketch at 100 TB (12 rows ⇒
    * stderr ≈ sqrt(J(1-J)/12) ≈ 0.14 at J=0.5; more rows at scale).
    * Signature agreement is a narrow zip_with/filter/size expression;
    * everything rides the existing candidate-pair shuffles. */
  def q59MinhashAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(spark, dir)
    val sigs = docs.select(col("doc_id"), Dedup.minhashSignature(col("sh")).as("sig"))
    Dedup.candidatePairs(bandedFrom(docs))
      .join(sigs.select(col("doc_id").as("doc1"), col("sig").as("g1")), Seq("doc1"))
      .join(sigs.select(col("doc_id").as("doc2"), col("sig").as("g2")), Seq("doc2"))
      .join(docs.select(col("doc_id").as("doc1"),
        array_sort(array_distinct(col("sh"))).as("t1")), Seq("doc1"))
      .join(docs.select(col("doc_id").as("doc2"),
        array_sort(array_distinct(col("sh"))).as("t2")), Seq("doc2"))
      .withColumn("inter", graft.functions.GraftFunctions
        .sortedIntersectSize(col("t1"), col("t2")))
      .select(col("doc1"), col("doc2"),
        // agreement fraction over the ACTUAL signature width, not a
        // hardcoded constant — stays correct if minhashSignature's k changes
        round(size(filter(zip_with(col("g1"), col("g2"), (a, b) => a === b),
          x => x)).cast("double") / size(col("g1")).cast("double"), 4)
          .as("est_jaccard"),
        // exact Jaccard via the native merge walk on the sorted sets
        round(col("inter").cast("double")
          / (size(col("t1")) + size(col("t2")) - col("inter")).cast("double"),
          4).as("jaccard"))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("jaccard")), 4))
  }

  /** The whole corpus-curation intake chain as ONE declarative plan —
    * what an LLM-training data pipeline actually runs nightly: quality
    * score → language-ID → threshold filter → exact dedup (keep lowest
    * doc_id per normalized key) → deterministic split assignment →
    * per-language token-budget fill. Every stage reuses the standalone
    * operator (q15/q16/q18/q40/q43 semantics) and Catalyst fuses them:
    * the scoring/lang/filter stages are one narrow codegen'd pass over
    * the scan, dedup is one hash shuffle + a semi join, and the budget
    * window shares the final partitioning. Composability is the point —
    * operators that only work standalone don't make a pipeline. */
  def q50CorpusCuration(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val n = TA.tokenCount(toks).cast("double")
    val d = TA.distinctTokenCount(toks)
    val s = TA.stopwordCount(toks, stopwords)
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"),
        TA.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"), col("n_chars"),
        round(lit(0.3) * (d.cast("double") / n)
          + lit(0.3) * (lit(1.0) - s.cast("double") / n)
          + lit(0.4) * least(lit(1.0), n / lit(100.0)), 4).as("quality_score"),
        TA.langPredict(TA.langScores(col("text"), profiles)).as("predicted"))
    val kept = scored.filter(col("quality_score") >= 0.5)
    val keepers = kept
      .groupBy(Dedup.normKey(col("text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
    val deduped = kept.join(keepers.select("doc_id"), Seq("doc_id"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("predicted"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    deduped
      .withColumn("split", graft.ops.Sampling.split(col("doc_id")))
      .withColumn("cum_tokens", sum(col("n_chars")).over(w).cast("long"))
      .filter(col("cum_tokens") <= 4000)
      .select("doc_id", "predicted", "quality_score", "split", "n_chars", "cum_tokens")
  }

  /** Benchmark decontamination — the training-data op that keeps eval sets
    * out of the corpus: flag any document sharing a word 3-gram with the
    * benchmark set (here: every 100th doc stands in for the eval set; in
    * production it's the actual benchmark corpus). The benchmark's
    * DISTINCT gram set is BROADCAST (eval sets are bounded by
    * construction), so corpus grams never shuffle: explode + broadcast
    * semi-join + per-doc count is a narrow pipeline over the scan at any
    * corpus size. Distinct grams per doc, so n_hits counts WHICH grams
    * collide, not how often they repeat. */
  def q54Decontam(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shingles3(col("toks")))).as("gram"))
    val bench = grams.filter(col("doc_id") % 100 === 0)
      .select("gram").distinct()
    val hits = grams
      .filter(col("doc_id") % 100 =!= 0)
      .join(broadcast(bench), Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("is_benchmark", col("doc_id") % 100 === 0)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_benchmark"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (!col("is_benchmark") && coalesce(col("n_hits"), lit(0L)) > 0)
          .as("contaminated"))
  }

  /** Gopher-style repetition pruning signals (public heuristics from the
    * Gopher/MassiveText filtering literature): per document, the duplicate
    * word-2-gram fraction and the character share of the single most
    * frequent 2-gram — the two signals that catch boilerplate and
    * degenerate repetition that plain length/stopword scores miss. The
    * distinct/total ratio is a narrow per-row expression over the scan;
    * only the per-gram mode needs a shuffle, and it aggregates (doc_id,
    * gram) → count → `min_by` per doc, so state per task is one running
    * winner per document, never the gram multiset. Mode tie-break is
    * (count desc, gram asc) via min_by on a (-count, gram) struct key —
    * order-independent and engine-portable. */
  def q55Repetition(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).as("text_len"),
        graft.functions.WordShingles(TA.tokens(col("text")), 2).as("bg"))
    val stats = base.select(col("doc_id"), col("text_len"),
      size(col("bg")).cast("long").as("n_2grams"),
      size(array_distinct(col("bg"))).cast("long").as("n_distinct_2grams"))
    val top = base
      .select(col("doc_id"), explode(col("bg")).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(min_by(
        struct(col("gram"), col("cnt")),
        struct((-col("cnt")).as("neg_cnt"), col("gram"))).as("t"))
      .select(col("doc_id"), col("t.gram").as("top_2gram"),
        col("t.cnt").as("top_2gram_n"))
    stats.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_2grams"), col("n_distinct_2grams"),
        round(lit(1.0) - col("n_distinct_2grams").cast("double")
          / nullif(col("n_2grams").cast("double"), lit(0.0)), 4)
          .as("dup_2gram_frac"),
        col("top_2gram"), col("top_2gram_n"),
        round(col("top_2gram_n").cast("double")
          * length(col("top_2gram")).cast("double")
          / col("text_len").cast("double"), 4).as("top_2gram_char_frac"))
  }

  /** TF-IDF top-3 terms per document — the classic relevance weighting,
    * shaped for scale: tf is the canonical explode→(doc, token) map-side-
    * combined count; df reuses tf's output (one row per (doc, token), so
    * `count(*)` by token IS document frequency — no second pass over the
    * corpus); the corpus size joins in as a broadcast single-row aggregate
    * (no driver-side collect). The final per-doc top-3 is a window
    * PARTITIONED by doc_id — millions of small partitions, not one global
    * sort. Ranks order by the ROUNDED score so the tie-break is identical
    * across engines regardless of last-ulp ln() differences. */
  def q56Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).cast("double").as("n_docs"))
    val scored = tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf").cast("double")
          * log(col("n_docs") / col("df").cast("double")), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    scored
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 3)
  }

  /** Inverted-index posting lists over word 3-grams — the materialized
    * index a decontamination / exact-overlap service queries, built only
    * for grams in a bounded df band (2..20): df=1 grams can't witness
    * overlap and high-df grams are stop-phrases whose posting lists are
    * exactly the lists that blow up at corpus scale (real indexes stub
    * them to df-only entries). Shape: distinct (gram, doc) pairs →
    * df count → equi-join the band back onto the pair stream → sorted
    * posting string. The join and both aggregations all hash-partition on
    * `gram`, so AQE plans ONE exchange per side and the final groupBy
    * reuses the join's partitioning — no re-shuffle ([[PlanSpec]] asserts
    * the exchange count). Postings are emitted as a comma-joined sorted
    * string: deterministic, checker-hashable, and bounded by the df cap. */
  def q57GramPostings(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shingles3(col("toks")))).as("gram"))
    gramKeyOpt(spark) match {
      case None =>
        val banded = pairs.groupBy(col("gram")).agg(count(lit(1)).as("df"))
          .filter(col("df").between(2, 20))
        pairs.join(banded, Seq("gram"))
          .groupBy(col("gram"), col("df"))
          .agg(array_join(
            transform(array_sort(collect_list(col("doc_id"))), _.cast("string")),
            ",").as("postings"))
      case Some(key) =>
        // digest-keyed twin: the PAIR stream — the corpus-proportional
        // fat side — crosses its join exchange as fixed-width
        // (gk, doc_id); the gram string (the output contract's label,
        // and the reason a naive digest swap can't shrink this query)
        // rides the df AGG side as a min(gram) partial — the merged
        // group's label under a collision, the documented posture. On a
        // Zipfian production vocabulary the agg partials combine to
        // distinct-per-partition and the join stream dominates, so the
        // digest pays exactly like q178/q182; the 100× LADDER cannot
        // show it — its disjoint-vocab copies make partials barely
        // combine, and its grams (~30 chars) sit near digest width, so
        // every digest shape MEASURES neutral-to-worse there (1.40 GB
        // here, 1.45 GB with gram also on the pair stream, 2.41 GB with
        // survivor-semi-join label recovery paying the AQE
        // late-conversion tax, vs 1.06 GB raw — all three in
        // BASELINE.md). Raw stays the default; the conf is the
        // real-vocabulary-width knob, spec-pinned output-invariant.
        val keyed = pairs.select(key(col("gram")).as("gk"),
          col("gram"), col("doc_id"))
        val banded = keyed.groupBy(col("gk"))
          .agg(count(lit(1)).as("df"), min(col("gram")).as("gram"))
          .filter(col("df").between(2, 20))
        keyed.select(col("gk"), col("doc_id")).join(banded, Seq("gk"))
          .groupBy(col("gk"), col("df"), col("gram"))
          .agg(array_join(
              transform(array_sort(collect_list(col("doc_id"))), _.cast("string")),
              ",").as("postings"))
          .select(col("gram"), col("df"), col("postings"))
    }
  }

  /** Pointwise mutual information over within-document token co-occurrence
    * — the classic word-association statistic (collocation mining, vocab
    * pruning). Pair generation is NARROW: each row's sorted distinct
    * tokens expand to (a < b) struct pairs via nested transform + one
    * explode — no per-doc self-join, so the only shuffles are the two
    * count aggregations. Generation is quadratic in per-doc DISTINCT
    * tokens; at open-vocabulary scale you first band the vocabulary by
    * document frequency (q57's df-band trick) and pair only surviving
    * tokens. Unigram counts and the corpus size join back as broadcasts.
    * The oracle computes the same counts via a relational self-join —
    * cross-checking the narrow generation against a different mechanism. */
  def q61PmiPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        array_sort(array_distinct(TA.tokens(col("text")))).as("ts"))
    // native pair expansion (r11): the flatten(transform(..., transform(
    // slice(...)))) nest paid two interpreted closures per output pair on
    // a quadratic-in-distinct-tokens stream — 200 of q61's 200 cpu-s at
    // the 100× rung (32 MB shuffled). See [[graft.functions.SortedPairs]].
    val pairsArr = graft.functions.SortedPairs(col("ts"))
    val pairs = docs.select(explode(pairsArr).as("p"))
      .select(col("p.a").as("token_a"), col("p.b").as("token_b"))
      .groupBy("token_a", "token_b").agg(count(lit(1)).as("c_ab"))
    val singles = docs.select(explode(col("ts")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val nDocs = Tables.documents(spark, dir)
      .agg(count(lit(1)).cast("double").as("n_docs"))
    pairs
      .join(broadcast(singles.select(col("token").as("token_a"), col("c").as("c_a"))),
        Seq("token_a"))
      .join(broadcast(singles.select(col("token").as("token_b"), col("c").as("c_b"))),
        Seq("token_b"))
      .crossJoin(broadcast(nDocs))
      .filter(col("c_ab") >= 10)
      .select(col("token_a"), col("token_b"), col("c_ab"), col("c_a"), col("c_b"),
        round(log(col("n_docs") * col("c_ab").cast("double")
          / (col("c_a").cast("double") * col("c_b").cast("double"))), 4).as("pmi"))
  }

  /** Edit-distance verification on LSH candidates — the fuzzy-match
    * complement to Jaccard (q20) and Hamming (q44): Levenshtein distance
    * and a normalized similarity on lowercased 40-char prefixes, computed
    * ONLY for pairs the banding already surfaced (never all-pairs; at any
    * corpus size the O(len²) DP runs on |candidates| rows). Unlike the
    * q20/q113 verifies (rewritten to posting co-occurrence so arrays
    * never ride a join), this one KEEPS the per-pair payload join by
    * design: Levenshtein needs the actual characters, and the payload is
    * a BOUNDED 40-byte prefix per side — O(1) per candidate, not O(doc).
    * Both engines implement the same unit-cost Levenshtein, so the audit
    * is exact. */
  def q67EditDistance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(lower(col("text")), 1, 40).as("pfx"))
    val sim = lit(1.0) - levenshtein(col("p1"), col("p2")).cast("double") /
      greatest(length(col("p1")), length(col("p2"))).cast("double")
    Dedup.candidatePairs(bandedFrom(shingled(spark, dir)))
      .join(docs.select(col("doc_id").as("doc1"), col("pfx").as("p1")), Seq("doc1"))
      .join(docs.select(col("doc_id").as("doc2"), col("pfx").as("p2")), Seq("doc2"))
      .select(col("doc1"), col("doc2"),
        levenshtein(col("p1"), col("p2")).cast("long").as("edit_dist"),
        round(sim, 4).as("prefix_sim"))
  }

  /** C4-style text normalization — the canonical form keys dedup and
    * overlap checks run on: lowercase, strip non-alphanumerics to spaces,
    * collapse whitespace, trim, plus the md5 canonical key and the length
    * delta. One native pass ([[graft.functions.NormalizeText]]) replaces
    * the lower→replace→replace→trim chain — same result (the expression's
    * Scaladoc carries the exactness argument), no java.util.regex in the
    * hot path, no four intermediate copies of every document. The oracle
    * keeps the composed regex form (DuckDB 'g' flag = Spark's default
    * global replace). */
  def q66Normalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.NormalizeText(col("text")).as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        md5(col("norm_text")).as("norm_key"),
        length(col("norm_text")).cast("long").as("norm_len"))

  private def simhashed(spark: SparkSession, dir: String): DataFrame =
    spreadDocs(spark, dir)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      // native SimHash, not the HOF `Dedup.simhashFromHashes` builder:
      // the HOF form re-aggregates the md5-hex array once PER BIT with a
      // string substr+conv per token — 16 interpreted array scans per doc,
      // measured 476 cpu-s at the 100× rung for what is one digest and 16
      // integer ops per token (native: 21.5 cpu-s, 22×). Bit-identical for
      // widths ≤ 32 (SimHashSpec asserts native == HOF); the coalesce
      // pins the empty-token-list case to the HOF/oracle's simhash 0
      // (the native expression returns NULL there so featureless docs
      // never band-collide — q21 publishes the signature itself, so 0 is
      // the documented value, not a collision risk).
      .select(col("doc_id"),
        coalesce(graft.functions.SimHash(col("toks"), 16), lit(0L))
          .as("simhash"))

  def q21Simhash(spark: SparkSession, dir: String): DataFrame =
    simhashed(spark, dir)

  /** SimHash near-dup pairs: Manku block-permutation band candidates
    * (lossless within Hamming radius 3 by pigeonhole — see
    * [[graft.ops.Dedup.mankuBands]]) + exact Hamming verify — completes
    * the dedup trio (exact q18, MinHash q19/q20, SimHash q21/q44).
    * Fixed 60-bit hash over 3-SHINGLES (token-level simhash clusters on
    * topically similar corpora) via the native
    * [[graft.functions.SimHash]] expression — one digest per shingle, one
    * compiled eval per row. The only shuffle is the band-bucket join on
    * (int, packed-long) keys; 20 tables × 30-bit keys keep candidate
    * volume sub-linear to ~10⁹ docs (the historical adaptive 4-band
    * slicing saturated at ~4M docs — the 1000×-rung wall). */

  /** The persisted (doc_id, simhash) signature frame — feeds the banding
    * and BOTH verify-join probes; persist so the tokenize→shingle→digest
    * lineage runs once, not 3× (measured: the recompute tripled q44's
    * cost). At 100 TB you'd materialize the signature table — persist is
    * the in-session twin. Exposed separately so EAGER composers (q51's
    * components loop) can release it the moment their result no longer
    * references it. */
  private def simhashSims(spark: SparkSession, dir: String): DataFrame =
    shingled(spark, dir)
      .select(col("doc_id"),
        graft.functions.SimHash(col("sh"), Dedup.SimhashBits).as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** blocks comes from [[graft.ops.Dedup.mankuBlocksFor]] on the corpus
    * row count — one driver-side parquet-metadata count per query build
    * picks the cheapest radius-3-lossless table scheme (10 tables below
    * 2M docs, 20 to 4B, 35 beyond). */
  private def simhashPairsFrom(sims: DataFrame, blocks: Int): DataFrame = {
    val banded = sims
      .select(col("doc_id"),
        explode(Dedup.mankuBands(col("simhash"), blocks = blocks)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_key").as("band_key"))
    Dedup.candidatePairs(banded)
      .join(sims.select(col("doc_id").as("doc1"), col("simhash").as("s1")), Seq("doc1"))
      .join(sims.select(col("doc_id").as("doc2"), col("simhash").as("s2")), Seq("doc2"))
      .select(col("doc1"), col("doc2"),
        Dedup.hammingDistance(col("s1"), col("s2")).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  private def mankuBlocks(spark: SparkSession, dir: String): Int =
    Dedup.mankuBlocksFor(Tables.documents(spark, dir).count())

  /** CACHE CONTRACT: the signature entry lives until unpersist/clearCache —
    * the result is LAZY and reads it, so library callers running many
    * queries per session should clearCache between them (Bench/Verify do);
    * the data is tiny (doc_id + one long per doc). */
  def q44SimhashNearDup(spark: SparkSession, dir: String): DataFrame =
    simhashPairsFrom(simhashSims(spark, dir), mankuBlocks(spark, dir))

  /** Near-dup CLUSTERS from the q44 pair edges: pairs alone can't drive
    * dedup (A~B, B~C must collapse to one cluster even when A!~C) —
    * smallest-label propagation closes the transitive hull. The oracle
    * computes the same components via a recursive-CTE transitive closure,
    * cross-checking the iterative distributed algorithm against a
    * declarative one. */
  def q51DupClusters(spark: SparkSession, dir: String): DataFrame = {
    // EAGER composer: the components loop materializes to checkpointed
    // LogicalRDDs before returning, so unlike lazy q44 this query has no
    // cache excuse — release the signature frame on the way out (the
    // ContractSpec cache-lifetime sweep enforces exactly this).
    //
    // One iteration scheme: pointer-jumping label propagation. The
    // published large-star/small-star edge contraction tied with it at
    // 5M and 10M docs (BASELINE.md, r9: −4 % / +7 % wall), so only one
    // is kept.
    val sims = simhashSims(spark, dir)
    try graft.ops.Components.connectedComponents(
      simhashPairsFrom(sims, mankuBlocks(spark, dir)).select("doc1", "doc2"))
    finally sims.unpersist(blocking = true)
  }

  /** q173: dedup-savings report — the ROI table that justifies running
    * dedup at all: per near-dup-cluster SIZE, how many clusters, how
    * many docs, and how many bytes a keep-one-per-cluster rewrite saves
    * (keeper = lowest doc_id; q93 holds the richer longest-text rule).
    * Composes q51's components with the documents table: one doc_id
    * join, one per-component agg (keeper bytes via struct-min, so
    * keeper choice and its size travel atomically), one tiny
    * distribution agg. The oracle recomputes components via DuckDB's
    * RECURSIVE closure — the declarative twin of the iterative
    * propagation — then the same rollup. */
  def q173DedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val comp = q51DupClusters(spark, dir)
    val per = comp
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("sz"),
        sum(col("n_chars")).as("bytes_total"),
        min(struct(col("doc_id"), col("n_chars"))).as("keeper"))
      .select(col("sz"), col("bytes_total"),
        (col("bytes_total") - col("keeper.n_chars")).as("bytes_saved"))
    per.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("bytes_total")).as("bytes_total"),
        sum(col("bytes_saved")).as("bytes_saved"))
  }

  /** Number of BPE merge steps q71 trains (oracle SQL is generated for
    * the same constant, so the two sides can't drift). */
  private val bpeSteps = 8

  /** q71: BPE tokenizer-training merges — the vocabulary-building loop of a
    * byte-pair-encoding tokenizer, run as `bpeSteps` iterations of "count
    * adjacent symbol pairs, merge the globally most frequent one".
    *
    * Scale design: ONE corpus pass builds the (word, count) vocabulary
    * (Heaps' law keeps distinct words orders of magnitude smaller than the
    * corpus — this is why production BPE trainers operate on a word-count
    * table, not raw text); every iteration after that touches only the
    * persisted vocab. The per-step argmax is `orderBy.limit(1)` →
    * TakeOrderedAndProject (per-partition top-1 + tiny driver merge), and
    * the one collected row per step is the merge-table entry itself — the
    * driver loop materializes exactly the artifact BPE training exists to
    * produce, like q39's Lloyd step collects its centroid table.
    *
    * Merge application is flat-string `replace` over space-separated,
    * space-padded symbol sequences: symbols never contain spaces, so
    * " x y " → " xy " is unambiguous at symbol boundaries, and both Spark
    * (UTF8String.replace) and the DuckDB oracle scan left-to-right without
    * re-scanning the replacement — identical procedure on both sides.
    * (Runs of 3+ identical symbols merge alternately rather than greedily
    * re-pairing — a documented divergence from textbook BPE shared by both
    * engines, so the oracle still checks value-exactly.)
    * Ties on pair count break on (count DESC, pair ASC) — a total order,
    * so the trained merge table is engine- and partition-order-independent.
    *
    * Regime bound (r7 ladder, BASELINE.md): per-step cost is flat in the
    * step count and the job-scheduling constant is ~0.1–0.2 s/step, so
    * the distributed loop is the right tool while steps × constant ≪ the
    * corpus pass — true at the 8–32 steps the ladder measured. A
    * production 32k-merge vocabulary is a different regime: there you
    * collect the (word, count) table once (vocab-sized, Heaps-bounded)
    * and run the remaining 30k+ argmax/merge steps driver-resident over
    * it — same artifact, no per-step job. */
  def q71BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = Tables.documents(spark, dir)
      .select(explode(TA.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("w"))
      .select(col("w"),
        concat(lit(" "),
          trim(regexp_replace(col("token"), "(.)", "$1 ")),
          lit(" ")).as("seq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cur = vocab
      val merges = Seq.newBuilder[(Int, String, String, String, Long)]
      var step = 1
      var exhausted = false
      while (step <= bpeSteps && !exhausted) {
        val pairs = graft.functions.WordShingles(split(trim(col("seq")), " "), 2)
        val top = cur
          .select(col("w"), explode(pairs).as("pair"))
          .groupBy("pair").agg(sum("w").as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val pair = top(0).getString(0)
          val n = top(0).getLong(1)
          val Array(a, b) = pair.split(" ", 2)
          merges += ((step, a, b, a + b, n))
          cur = cur.select(col("w"),
            replace(col("seq"), lit(" " + pair + " "), lit(" " + a + b + " ")).as("seq"))
          step += 1
        }
      }
      merges.result().toDF("step", "sym_a", "sym_b", "merged", "pair_count")
    } finally vocab.unpersist()
  }

  /** q74: character-entropy quality signal — Shannon entropy (nats) of each
    * document's character distribution, the "is this real text or noise"
    * filter that length/stopword scores miss (random bytes score high,
    * repeated filler scores near zero).
    *
    * Determinism: per-char counts are exact integers; the entropy fold runs
    * over the counts SORTED by character (sort_array fixes collect_list's
    * partition order), so the double summation order is identical on every
    * run and engine — the same order-fixed-fold convention as q64.
    *
    * Scale: explode + map-side-combined (doc_id, char) counts collapse to
    * at most |alphabet| rows per doc before the shuffle; the per-doc
    * histogram list is alphabet-bounded (tiny), never the text itself. */
  def q74CharEntropy(spark: SparkSession, dir: String): DataFrame = {
    val ch = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(filter(split(col("text"), ""), c => length(c) > 0)).as("c"))
    ch.groupBy("doc_id", "c").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(
        collect_list(struct(col("c"), col("n"))).as("h"),
        sum("n").as("n_chars_total"),
        count(lit(1)).as("n_distinct_chars"))
      .select(col("doc_id"), col("n_chars_total"), col("n_distinct_chars"),
        round(aggregate(
          transform(sort_array(col("h")), s => s.getField("n")),
          lit(0.0),
          (acc, n) => {
            val p = n.cast("double") / col("n_chars_total").cast("double")
            acc - p * log(p)
          }), 4).as("entropy"))
  }

  /** q77: vocabulary encoding — build a token→id dictionary (id = global
    * frequency rank, ties broken by token) and re-encode every document as
    * its id sequence, the "tokenize to ids" step of dataset preparation.
    *
    * The dictionary rank comes from [[graft.ops.GlobalIndex.withGlobalRank]]
    * — range partition + per-partition offsets folded in place — NOT a
    * partitionless ROW_NUMBER window, so a 100 M-token vocabulary ranks
    * with full parallelism (q34's broadcast self-count trick is for top-20;
    * this is the full-dictionary path). Re-encoding is posexplode → join on
    * the token (dictionary broadcast or shuffled by Catalyst's sizing) →
    * re-assemble ordered by position. The (pos, token_id) pair rides the
    * aggregate PACKED INTO ONE LONG (pos·2³⁴ | id): collect_list over a
    * primitive is a flat array buffer and sort_array on longs is a
    * primitive sort, where the earlier struct form paid per-element
    * allocation plus an interpreted two-field comparator per compare —
    * the dominant 100×-rung cost of this query. pos is unique per doc,
    * so the packed order IS position order; 34 id bits hold any
    * realistic vocabulary (≤ 17 B entries) and 29 pos bits any document
    * (≤ 536 M tokens). Ids emit as a comma-joined string: arrays break
    * the driver's hash-compare (the q26 lesson) and a string round-trips
    * exactly. */
  def q77TokenIds(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(TA.tokens(col("text"))))
      .withColumnRenamed("col", "token")
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("n"))
    val ids = graft.ops.GlobalIndex.withGlobalRank(
      vocab, Seq(col("n").desc, col("token").asc), "token_id")
    toks.join(ids.select("token", "token_id"), Seq("token"))
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(
          shiftleft(col("pos").cast("long"), 34).bitwiseOR(col("token_id"))))
          .as("s"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        concat_ws(",",
          transform(col("s"),
            x => x.bitwiseAND(lit((1L << 34) - 1)).cast("string")))
          .as("ids"))
  }

  /** q78: fixed-length sequence chunking — split each document's token
    * stream into seq_len-32 training chunks (last chunk ragged). Fully
    * narrow: per-row sequence + slice + explode, ZERO shuffles at any
    * corpus size — chunking is embarrassingly parallel and the plan says
    * so. Cross-document packing to a token budget is q43's cumulative-sum
    * pattern; this is the per-document step that feeds it. */
  def q78Chunking(spark: SparkSession, dir: String): DataFrame = {
    val L = 32
    Tables.documents(spark, dir)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          ((size(col("toks")) + (L - 1)) / lit(L)).cast("int") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("toks"), col("chunk_idx") * L + 1, lit(L)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  /** q82: chunk-level exact dedup — the passage/line-granular dedup layer
    * (RefinedWeb-style) between doc-level exact dedup (q18) and fuzzy
    * near-dup (q19/q44): per document, what fraction of its seq-len-32
    * chunks (q78's chunking) appear anywhere else in the corpus. Duplicate
    * boilerplate that doc-level dedup can't see shows up here.
    *
    * Plan: narrow chunking → one hash-agg shuffle on the chunk md5 for
    * corpus frequencies → frequency joins back on the same key
    * partitioning → per-doc aggregate. The chunk TEXT never shuffles —
    * only its 16-byte digest does, which is what makes this affordable at
    * 100 TB. */
  def q82ChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val keyed = q78Chunking(spark, dir)
      .select(col("doc_id"), md5(col("chunk_text")).as("k"))
    val freq = keyed.groupBy("k").agg(count(lit(1)).as("nk"))
    keyed.join(freq, Seq("k"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("nk") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"), 4)
          .as("dup_chunk_frac"))
  }

  /** q87: MapType column workflow — the per-doc term-frequency map the
    * reference's jsonb stage column plays at row level, done with Spark's
    * map functions end to end: build `token -> count` per document, then
    * interrogate it with map_values/map_keys/map_filter — all
    * codegen-friendly collection expressions, zero UDFs. The map stays
    * per-row (never shuffled as a map): the only shuffle is the (doc_id,
    * token) count agg that feeds it. Entries are deliberately NOT sorted
    * before map_from_entries: every consumer below is order-independent
    * (size, a commutative integer sum over map_values, and map_keys that
    * are array_sort'ed after the filter), and the per-doc string-struct
    * sort was the query's dominant 100×-rung cost for zero semantic
    * effect. */
  def q87TokenMaps(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
    tf.groupBy(col("doc_id"))
      .agg(map_from_entries(
        collect_list(struct(col("token"), col("cnt")))).as("m"))
      .select(col("doc_id"),
        size(col("m")).cast("long").as("n_distinct"),
        aggregate(map_values(col("m")), lit(0L), (a, x) => a + x).as("n_tokens"),
        concat_ws(",",
          array_sort(map_keys(map_filter(col("m"), (_, v) => v >= 4))))
          .as("frequent_tokens"))
  }

  /** q89: unigram language-model quality score (CCNet-style LM filter):
    * score each document by the mean log-probability of its tokens under
    * the corpus's own unigram model. Low scorers are gibberish/boilerplate
    * candidates. The model (token -> count) is broadcast — at this SF the
    * whole vocabulary fits. Determinism: ln(p) is quantized to integer
    * micro-nats with floor() BEFORE the per-doc sum, so the aggregate is
    * exact integer arithmetic, independent of partition order; doubles
    * appear only in the final one-division projection. Every token is in
    * the model, so the join is the inner join the oracle mirrors. */
  def q89UnigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("token"))
    val model = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = tok.agg(count(lit(1)).as("n_total"))
    tok.join(broadcast(model), Seq("token"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        floor(log(col("cnt").cast("double") / col("n_total").cast("double"))
            * lit(1e6))
          .cast("long").as("lp_q"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp_q")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("s").cast("double") / lit(1e6) / col("n_tokens").cast("double"), 4)
          .as("avg_logprob"))
  }

  /** q91: training-shard packing — lay the corpus out as one global token
    * stream (doc_id order) and assign each document a shard id + byte
    * offset from its EXCLUSIVE prefix sum of n_chars. This is the layout
    * step before writing fixed-size training shards. The prefix sum uses
    * [[graft.ops.GlobalIndex.withGlobalCumSum]] (range partition + per-
    * partition scan from driver-folded partition offsets) because the naive
    * `SUM() OVER (ORDER BY doc_id)` is a single-partition window — the
    * same scale bug q34 avoids. Shard size 50k chars. */
  def q91ShardPack(spark: SparkSession, dir: String): DataFrame =
    graft.ops.GlobalIndex.withGlobalCumSum(
        Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        Seq(col("doc_id")), col("n_chars"), "start_off")
      .select(col("doc_id"), col("n_chars"), col("start_off"),
        expr("start_off DIV 50000").as("shard_id"),
        (col("start_off") % 50000L).as("offset_in_shard"))

  /** q93: dedup survivorship ("golden record") — for every exact-dup
    * cluster (q18's 120-char-prefix key), the full member->canonical
    * mapping under an explicit survivorship rule: keep the LONGEST text,
    * ties to the lowest doc_id. q18 answers "how many dups"; this emits
    * the remap table an actual lake rewrite would join against. One
    * shuffle on the 16-byte key; windows partition by cluster key (many
    * small groups — never global). */
  def q93GoldenRecord(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        graft.ops.Dedup.normKey(col("text")).as("k"))
    val byLen = Window.partitionBy(col("k"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    keyed
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("k"))))
      .filter(col("cluster_size") > 1)
      .withColumn("canonical_id", first(col("doc_id")).over(byLen))
      .select(col("k").as("dedup_key"), col("doc_id"), col("canonical_id"),
        col("cluster_size"), (col("doc_id") === col("canonical_id")).as("is_canonical"))
  }

  /** q94: train/eval leakage audit — near-duplicate pairs (q19's
    * MinHash-LSH candidates) that CROSS the deterministic corpus split
    * (q40): an eval doc with a near-dup in train is contamination that
    * inflates benchmark scores. Split labels are recomputed inline from
    * doc ids (a narrow md5 projection — no join against the split table
    * at all), so the audit costs exactly one LSH pass regardless of
    * corpus size. Composition of two already-verified operators; the
    * oracle recomposes the same thing in SQL. */
  def q94SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    q19MinhashLsh(spark, dir)
      .select(col("doc1"), col("doc2"),
        graft.ops.Sampling.split(col("doc1")).as("split1"),
        graft.ops.Sampling.split(col("doc2")).as("split2"))
      .filter(col("split1") =!= col("split2"))
  }

  /** q96: class-balanced downsampling to the RAREST class — every language
    * keeps exactly min-class-count docs, chosen in deterministic hash
    * order (q41's ordering, so the subset is unbiased w.r.t. any data
    * attribute and identical in every engine). Unlike q41's fixed n-per-
    * class, the threshold here is DATA-DEPENDENT: a per-class count agg
    * reduced to a 1-row min, broadcast into the filter — no driver-side
    * collect, no second pass over the corpus. The rank window partitions
    * by class (many groups); at 100 TB the count agg is map-side combined
    * and the broadcast is one row. */
  def q96ClassBalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val minN = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("min_n"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    docs.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(minN))
      .filter(col("rk") <= col("min_n"))
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  /** q98: per-source MinHash sketch union via the custom typed Aggregator
    * [[graft.functions.ElementwiseMinLong]] (`functions.udaf`) — merge all
    * of a source's document signatures into ONE source-level signature
    * (union of sketched shingle sets = per-position min). This is how a
    * 100 TB pipeline summarizes corpus slices cheaply: the shuffle carries
    * one 12-long buffer per source (partial agg map-side), never the
    * documents. Output exploded to (source, pos, min_hash) — exact
    * integers, oracle-exact. */
  def q98SigUnion(spark: SparkSession, dir: String): DataFrame = {
    val sigMin = udaf(graft.functions.ElementwiseMinLong)
    spreadDocs(spark, dir)
      .select(col("source"), Dedup.shingles3(TA.tokens(col("text"))).as("sh"))
      .select(col("source"), Dedup.minhashSignature(col("sh")).as("sig"))
      .groupBy(col("source"))
      .agg(count(col("sig")).as("n_sigs"), sigMin(col("sig")).as("msig"))
      .select(col("source"), col("n_sigs"), posexplode(col("msig")))
      .select(col("source"), col("n_sigs"), col("pos"), col("col").as("min_hash"))
  }

  /** q99: triangle enumeration on the near-dup candidate graph — the
    * structural signal between pairwise near-dups (q19) and whole
    * components (q51): a triangle means three documents are mutually
    * near-duplicate, the densest template/boilerplate clusters. Edges are
    * canonically ordered (doc1 < doc2), so joining ab⋈bc on the shared
    * middle vertex and closing with ac enumerates each triangle exactly
    * once, ordered a<b<c — two equi-joins, no enumeration of
    * non-triangles. At web scale the standard refinement orients edges by
    * degree instead of id (caps the join fan-out on hub vertices); the
    * plan shape — join on middle vertex, semi-close on the third edge —
    * is unchanged. */
  def q99Triangles(spark: SparkSession, dir: String): DataFrame = {
    val e = q19MinhashLsh(spark, dir)
    val ab = e.select(col("doc1").as("a"), col("doc2").as("b"))
    val bc = e.select(col("doc1").as("b"), col("doc2").as("c"))
    val ac = e.select(col("doc1").as("a"), col("doc2").as("c"))
    ab.join(bc, Seq("b")).join(ac, Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
  }

  /** q100: the corpus report card — the one-page health dashboard a data
    * team reads before a training run, per (source, lang) cell: volume
    * (docs, tokens), mean quality (q50's formula), exact-dup exposure
    * (docs whose q18 dedup key collides corpus-wide), and corpus share.
    * One wide scan computes all per-doc features; one hash agg on the
    * 16-byte dup key; one cell agg; a 1-row broadcast for shares. Mean
    * quality is summed as floor-quantized 1e-4 ints (partition-order
    * exact), divided once at output — the q89/q64 determinism rule. */
  def q100ReportCard(spark: SparkSession, dir: String): DataFrame = {
    val n = TA.tokenCount(col("toks")).cast("double")
    val d = TA.distinctTokenCount(col("toks"))
    val s = TA.stopwordCount(col("toks"), stopwords)
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        TA.tokens(col("text")).as("toks"), Dedup.normKey(col("text")).as("k"))
      .select(col("source"), col("lang"), col("k"),
        TA.tokenCount(col("toks")).as("n_tok"),
        floor((lit(0.3) * (d.cast("double") / n)
          + lit(0.3) * (lit(1.0) - s.cast("double") / n)
          + lit(0.4) * least(lit(1.0), n / lit(100.0))) * lit(1e4))
          .cast("long").as("q4"))
    // kc via a whole-partition window, not groupBy(k) + join-back (r11,
    // guide §2.4 "two operations keyed the same way can share one
    // exchange"): the join form computed `base` — the tokenize + normKey
    // pass, the query's entire cpu — TWICE (agg side and probe side; the
    // two exchanges' payloads differ, partial counts vs raw rows, so
    // ReusedExchange can never fire: 0 reuses in the r11 before-plan) and
    // exchanged the corpus on k twice. The window computes the same
    // corpus-wide collision count with ONE base pass and ONE exchange
    // (measured at the 100× rung: 43.7 s / 586 cpu-s → see after-plan;
    // 16 → 10 Exchanges, 8 → 4 parquet scans).
    // NULL keys (NULL text) are dropped first: the groupBy + inner-join
    // form and the oracle's `JOIN ... USING (k)` never match them, while
    // a window would count them as one corpus-wide partition.
    val cells = base.filter(col("k").isNotNull)
      .withColumn("kc", count(lit(1)).over(Window.partitionBy(col("k"))))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("q4")).as("sq"),
        sum(when(col("kc") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
    val total = cells.agg(sum(col("n_docs")).as("total_docs"))
    // half-up rounding done in INTEGER space — round(double, n) is a trap
    // here: Spark rounds the shortest decimal repr (BigDecimal.valueOf),
    // DuckDB rounds the binary double, and means land on exact halves
    // often enough to diverge (hit at sf0.01). (2a+b) DIV (2b) is exact
    // half-up of a/b for non-negative ints in both engines.
    cells.crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        (expr("(2 * sq + n_docs) DIV (2 * n_docs)").cast("double") / lit(1e4))
          .as("mean_quality"),
        col("n_dup_docs"),
        (expr("(2 * n_docs * 10000 + total_docs) DIV (2 * total_docs)")
          .cast("double") / lit(100.0)).as("share_pct"))
  }

  /** q104: shard blob assembly — the completion of q91's packing: per
    * shard, the documents concatenated in stream order with an explicit
    * boundary token, plus shard fill stats. (Output carries each doc's
    * 16-char head, not full text — the report stays a report; the
    * full-text write is the same plan with `text` in the struct.) The
    * blob is built from a TOTAL-order struct sort (doc_id), so bytes are
    * deterministic; groups are shard-sized by construction, so
    * collect_list is bounded by the shard budget — the one place
    * collect_list is safe at scale. */
  def q104ShardBlobs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        substring(col("text"), 1, 16).as("head16"))
    graft.ops.GlobalIndex
      .withGlobalCumSum(docs, Seq(col("doc_id")), col("n_chars"), "start_off")
      .select(col("doc_id"), col("head16"), col("n_chars"),
        expr("start_off DIV 50000").as("shard_id"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("head16")))),
            x => x.getField("head16")),
          "<|doc|>").as("blob_head"))
  }

  /** q105: corpus-adaptive stopword induction — tokens appearing in more
    * than half of all documents are this corpus's function words; real
    * pipelines induce the list from the data rather than shipping a fixed
    * English list (the fixture's `stopwords` Seq stands in for exactly
    * this output). One distinct-token explode + df agg + a broadcast
    * 1-row corpus count; share computed with the integer half-up rule. */
  def q105StopwordInduction(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dfreq = docs
      .select(col("doc_id"), explode(array_distinct(TA.tokens(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    dfreq.crossJoin(broadcast(n))
      .filter(col("df") * 2 > col("n_docs"))
      .select(col("token"), col("df"), col("n_docs"),
        (expr("(2 * df * 10000 + n_docs) DIV (2 * n_docs)").cast("double") / lit(1e4))
          .as("df_share"))
  }

  /** q108: near-dup graph degree distribution — per-document degree over
    * the q19 LSH candidate edges, aggregated to (degree, n_docs). The
    * shape of this distribution is the dedup health check at scale: a
    * heavy tail means template/boilerplate hubs that LSH banding will
    * grind on (q99's degree-orientation refinement exists for exactly
    * those). Edges stream straight out of the band join; both aggs are
    * map-side combined; the distribution itself is tiny. */
  def q108DupDegreeDist(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q19MinhashLsh(spark, dir)
    pairs.select(col("doc1").as("doc_id"))
      .unionAll(pairs.select(col("doc2").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
  }

  /** q109: temperature-scaled source mixing — the multinomial
    * mixture-weighting step of corpus assembly: per-source char share,
    * α=0.5-tempered sampling weight w_s ∝ share^α (upweights small
    * sources without letting them dominate), and the implied epochs-per-
    * source (w/share — how many passes over each source one pass over
    * the mixture makes). Shares and weights are quantized to 1e-6 BEFORE
    * the cross-source normalizing sum, so every division is a ratio of
    * exact integers and the 5-row result is engine-bit-identical; sqrt
    * is IEEE-exact on both engines. Two tiny aggs + two 1-row broadcast
    * joins; the corpus is scanned once. (Char totals here fit comfortably
    * in int64; a >1e12-char corpus would swap the quantized longs for
    * DECIMAL accumulators, q39's convention.) */
  def q109SourceMix(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val tot = per.agg(sum(col("n_chars")).as("c_total"))
    val shared = per.crossJoin(broadcast(tot))
      .withColumn("share_q", expr("(2 * n_chars * 1000000 + c_total) DIV (2 * c_total)"))
      .withColumn("sq",
        floor(sqrt(col("share_q").cast("double") / lit(1e6)) * lit(1e6)).cast("long"))
    val qtot = shared.agg(sum(col("sq")).as("q_total"))
    shared.crossJoin(broadcast(qtot))
      .select(col("source"), col("n_docs"), col("n_chars"),
        (col("share_q").cast("double") / lit(1e6)).as("share"),
        (expr("(2 * sq * 1000000 + q_total) DIV (2 * q_total)").cast("double")
          / lit(1e6)).as("weight"),
        (expr("(2 * sq * 1000000 * 10000 + q_total * share_q) DIV (2 * q_total * share_q)")
          .cast("double") / lit(1e4)).as("epochs"))
  }

  /** q111: categorical-association audit — the chi-square contingency
    * table between the document's METADATA label (lang) and its
    * CONTENT-derived topic (q16's predictor): observed count, expected
    * count under independence, and the per-cell chi-square contribution.
    * Large contributions localize where metadata and content disagree —
    * the drill-down behind a label-noise alarm. Zero cells are emitted
    * via the row×column spine (q103's lesson: GROUP BY alone drops them,
    * and a chi-square over missing cells is wrong). All arithmetic is
    * integer until the output divide: E = R·C/N and (O·N − R·C)²/(R·C·N)
    * with the half-up rule, so the statistic is engine-exact. One corpus
    * scan; everything after is broadcast joins over ≤ |langs|×|topics|
    * rows. */
  def q111LangTopicChisq(spark: SparkSession, dir: String): DataFrame = {
    val scores = TA.langScores(col("text"), profiles)
    val obs = Tables.documents(spark, dir)
      .select(col("lang"), TA.langPredict(scores).as("predicted"))
      .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n_obs"))
    val rowTot = obs.groupBy(col("lang")).agg(sum(col("n_obs")).as("r_tot"))
    val colTot = obs.groupBy(col("predicted")).agg(sum(col("n_obs")).as("c_tot"))
    val nTot = obs.agg(sum(col("n_obs")).as("n_tot"))
    rowTot.crossJoin(broadcast(colTot))
      .join(obs, Seq("lang", "predicted"), "left")
      .crossJoin(broadcast(nTot))
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      // decimal(38,0) widening (oracle: HUGEINT): d ≈ n_obs·n_tot is ~n²
      // and d² is ~n⁴ — past 2⁶³ once the corpus crosses ~55k docs (first
      // measured failure at the 100× ladder rung, 500k docs → d² ≈ 6e22).
      // Same integers, same truncating DIV, same final double.
      .withColumn("d", col("n_obs").cast("decimal(38,0)") * col("n_tot")
        - col("r_tot").cast("decimal(38,0)") * col("c_tot"))
      .select(col("lang"), col("predicted"), col("n_obs"),
        (expr("(2 * CAST(r_tot AS DECIMAL(38,0)) * c_tot * 10000 + n_tot) DIV (2 * n_tot)")
          .cast("double") / lit(1e4)).as("expected"),
        (expr("""(2 * d * d * 100 + CAST(r_tot AS DECIMAL(38,0)) * c_tot * n_tot)
                 DIV (2 * CAST(r_tot AS DECIMAL(38,0)) * c_tot * n_tot)""")
          .cast("double") / lit(1e2)).as("chi2_contrib"))
  }

  /** q113: containment (asymmetric Jaccard) on the LSH candidate pairs —
    * |A∩B|/|A| and |A∩B|/|B| over 3-shingle sets. Symmetric Jaccard
    * (q20) misses sub-document duplication: a short doc fully quoted
    * inside a long one scores low Jaccard but containment ≈ 1 on the
    * short side — the signal quote/boilerplate dedup actually needs.
    * Same band-bucket candidate stream as q20, and the same
    * digest-array merge-walk verify ([[pairOverlapCounts]]); ratios via
    * the integer half-up rule. */
  /** CACHE CONTRACT: same persisted pair spine as q20 (see there). */
  def q113Containment(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(spark, dir)
    val pairs = Dedup.candidatePairs(bandedFrom(docs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairOverlapCounts(docs, pairs)
      .select(col("doc1"), col("doc2"), col("n1"), col("n2"), col("inter"))
      .withColumn("contain1",
        expr("(2 * inter * 10000 + n1) DIV (2 * n1)").cast("double") / lit(1e4))
      .withColumn("contain2",
        expr("(2 * inter * 10000 + n2) DIV (2 * n2)").cast("double") / lit(1e4))
      .filter(greatest(col("contain1"), col("contain2")) >= 0.3)
  }

  /** q115: bigram-LM quality scoring — per-doc mean conditional log-prob
    * ln(c(w1,w2)/c(w1·)) over consecutive token pairs, the next step up
    * from q89's unigram model (predictable local word order scores high;
    * shuffled/garbled text scores low even when its unigrams are common).
    * c(w1·) is the pair-prefix marginal, so probabilities sum to 1 per
    * prefix with no end-of-doc special case. The pair stream, the bigram
    * count, and the count-join all share the (w1,w2) hash partitioning;
    * the prefix marginal broadcasts (vocab-bounded). ln is floor-
    * quantized to integer micro-nats BEFORE the per-doc sum (q89's
    * engine-portability rule). 100 TB path: same as q89 — top-K bigram
    * table broadcast + OOV floor, or keep the shuffle join. */
  def q115BigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    // UNCACHED, AQE-planned (r11): the previous shape repartitioned the
    // full pair stream on w1 (data-proportional width), persisted it, and
    // pinned shuffle_hash count joins — one wide exchange plus a
    // corpus-scale columnar cache. Re-measured at the 100× rung that
    // cache is the cost, not the saving: columnar-encoding ~2·10⁸ token
    // structs and complete-mode (no map-side combine) aggregates over
    // the cached layout ran 57.7 s / 1,253 cpu-s / 1.02 GB shuffled;
    // this lean shape — recompute the narrow tokenize+explode per
    // branch, let partial aggregation collapse the vocab-bounded count
    // tables map-side, let AQE pick broadcast for them when they
    // MEASURE small — runs 10.3 s / 232 cpu-s / 683 MB (sf0.1: 95 KB
    // shuffled, both count joins broadcast). On a genuinely
    // vocab-exploded corpus AQE degrades to shuffle joins and the
    // gramKeyOpt digest conf keeps the keys fixed-width — the 100 TB
    // posture q89 documents. Also measured and REJECTED (r6):
    // pre-aggregating the spine to (doc, w1, w2, cnt) grain — exact
    // (each occurrence contributes the same floored micro-nat) but
    // 31.8 s → 147.9 s at the same rung: the three-string-key hash agg
    // over the full pair stream costs far more than the repetition
    // factor saves downstream. Skew note: the heaviest w1 partition
    // carries the most frequent first-word; for natural corpora where
    // one token opens ~5% of bigrams, salt w1 for the COUNT stages.
    val pairs = Tables.documents(spark, dir)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2) // Spark sequence(1,0) counts DOWN
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS w1, toks[i] AS w2))"))
        .as("p"))
      // gramKeyOpt (the digestHex conf): w1/w2 never reach the output —
      // only counts over them do — so the whole spine can key on digests
      // with zero other change (collision risk posture in its scaladoc)
      .select(col("doc_id"),
        gramKeyOpt(spark).fold(col("p.w1"))(k => k(col("p.w1"))).as("w1"),
        gramKeyOpt(spark).fold(col("p.w2"))(k => k(col("p.w2"))).as("w2"))
    val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val uni = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    pairs.join(bi, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .select(col("doc_id"),
        floor(log(col("c2").cast("double") / col("c1").cast("double")) * lit(1e6))
          .cast("long").as("lp_q"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("lp_q")).as("s"))
      .select(col("doc_id"), col("n_pairs"),
        round(col("s").cast("double") / lit(1e6) / col("n_pairs").cast("double"), 4)
          .as("avg_logprob"))
  }

  /** q118: token-distribution drift — per-token KL(P‖Q) contribution
    * between a candidate slice of the corpus (sources src0–src4, standing
    * in for "the new crawl batch") and the rest, with add-1 smoothing
    * over the union vocabulary so no side divides by zero. This is the
    * drift monitor that catches a scraper change or an injected spam
    * campaign before it trains: large positive contributions are tokens
    * the new batch over-represents. One token-count shuffle; totals and
    * vocab size ride back as a broadcast 1-row frame; ln runs on exact
    * integer ratios so the contribution is engine-deterministic, floor-
    * quantized to 1e-9 nats. */
  def q118TokenDrift(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir).select(
      col("source").isin("src0", "src1", "src2", "src3", "src4").as("in_a"),
      explode(TA.tokens(col("text"))).as("token"))
    val counts = tok.groupBy(col("token"))
      .agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("cnt_b"))
    val tots = counts.agg(
      sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"),
      count(lit(1)).as("v"))
    counts.crossJoin(broadcast(tots))
      .withColumn("p", (col("cnt_a") + 1).cast("double")
        / (col("n_a") + col("v")).cast("double"))
      .withColumn("q", (col("cnt_b") + 1).cast("double")
        / (col("n_b") + col("v")).cast("double"))
      .select(col("token"), col("cnt_a"), col("cnt_b"),
        (floor(col("p") * log(col("p") / col("q")) * lit(1e9)) / lit(1e9))
          .as("kl_contrib"))
  }

  /** q119: cross-source near-dup matrix — q19's candidate pairs rolled up
    * by (source, source): which sources duplicate each other (mirrors,
    * syndication, scraper overlap) vs only themselves. The matrix drives
    * source-level dedup policy before doc-level dedup spends compute.
    * Pair endpoints join to the doc→source map on the doc_id key; the
    * unordered (a,b) cell is canonicalized with least/greatest so each
    * pair lands in exactly one cell. */
  def q119SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    q19MinhashLsh(spark, dir)
      .join(src.select(col("doc_id").as("doc1"), col("source").as("s1")), Seq("doc1"))
      .join(src.select(col("doc_id").as("doc2"), col("source").as("s2")), Seq("doc2"))
      .select(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"))
      .groupBy(col("source_a"), col("source_b")).agg(count(lit(1)).as("n_pairs"))
  }

  /** q121: curriculum ordering — every document's global training order
    * and phase under an easy→hard schedule (shorter documents first, the
    * classic length-based curriculum). The global rank runs on
    * [[graft.ops.GlobalIndex]] (range partition + per-partition offsets
    * folded in place — never a single-partition global window); phase
    * boundaries are integer thirds of the corpus count, broadcast as a
    * 1-row frame. The oracle is the declarative ROW_NUMBER twin — the
    * distributed rank must agree with the single-node window exactly. */
  def q121Curriculum(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
    val ranked = graft.ops.GlobalIndex.withGlobalRank(
      docs, Seq(col("n_chars"), col("doc_id")), "train_order")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    ranked.crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_chars"), col("train_order"),
        expr("CASE WHEN train_order * 3 <= n_docs THEN 'easy' " +
          "WHEN train_order * 3 <= 2 * n_docs THEN 'medium' " +
          "ELSE 'hard' END").as("phase"))
  }

  /** q126: set-similarity join by PREFIX FILTERING (PPJoin-lite) — all
    * pairs with 3-shingle Jaccard ≥ 0.5, found WITHOUT hashing: shingles
    * sort globally rare-first (df asc), and two sets can only reach the
    * threshold if their first |x| − ⌈0.5·|x|⌉ + 1 rarest shingles share
    * one — so only that prefix explodes into the candidate equi-join.
    * Lossless by the prefix-filter theorem (unlike LSH's probabilistic
    * recall), so the oracle runs a DIFFERENT lossless algorithm (the
    * relational pair-count self-join): two algorithms, identical answer —
    * and together with q19/q20 this gives the near-dup stack an exact
    * alternative to MinHash. Shingle (not token) sets: the fixture's tiny
    * token vocabulary makes token-Jaccard non-discriminative (q20's
    * lesson — half of all token pairs clear 0.7). The threshold test
    * stays in integers (2·∩ ≥ ∪); the shingle-df table broadcasts
    * (df-banded in production, q57's trick). */
  def q126PrefixJoin(spark: SparkSession, dir: String): DataFrame = {
    // the distinct-shingle frame feeds FOUR branches (vocab, prefixes, and
    // both verify probes) — q44's persist-wins shape, not q20's: the
    // shingle materialization dominates and runs once instead of 4x.
    // Cache contract: the persist is released by Bench/Verify clearCache();
    // COMPOSING queries must not call this entry point — they manage their
    // own frame via q126FromDocs + Caching.withPersisted (q139).
    val docs = sortedShingleSets(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    q126FromDocs(spark, docs)
  }

  /** Sorted-distinct non-empty shingle sets — the shared input frame for
    * the exact prefix join AND (equivalently) MinHash banding: a MinHash
    * signature is a min over the shingle SET, so sorting and de-duplicating
    * change nothing, and empty-set docs produce NULL signatures that never
    * pair — exactly the rows the `size > 0` filter drops.
    * sorted + distinct ONCE per document: O(n log n) amortized over every
    * candidate the doc appears in, so the verify step can be a native
    * zero-allocation merge walk instead of a per-pair hash set. */
  private def sortedShingleSets(spark: SparkSession, dir: String): DataFrame =
    shingled(spark, dir)
      .select(col("doc_id"), array_sort(array_distinct(col("sh"))).as("s"))
      .filter(size(col("s")) > 0)

  /** q126 core over a caller-managed (persisted) sorted-shingle frame.
    *
    * Formulation: exact set-similarity join by COUNTING CO-OCCURRENCES in
    * the inverted index — for every shingle g, emit each (doc1 < doc2)
    * pair in g's posting list (with the standard J ≥ 0.5 length filter
    * 2·min(n1,n2) ≥ max(n1,n2) applied during generation), then
    * `inter = count per pair` and `J = inter / (n1 + n2 − inter)`. Any
    * pair with J > 0 shares a shingle, so the co-occurring pairs are a
    * superset of the answer and the J filter makes the output EXACTLY the
    * J ≥ 0.5 pairs — the same set the previous prefix-filter + array
    * merge-walk verify produced (PPJoin's prefix theorem guarantees its
    * candidates cover J ≥ 0.5; both formulations then apply the identical
    * exact filter), so the oracle is unchanged.
    *
    * WHY counting, not prefix + verify (a measured 100× ladder decision):
    * the verify stage shipped both docs' full shingle-string arrays PER
    * CANDIDATE PAIR — ~62 pairs/doc at the 100× rung means the corpus
    * payload crosses the wire ~62×, and once the array side outgrew
    * auto-broadcast the join flipped to sort-merge: 18.7 GB shuffled,
    * 3,100 cpu-s (vs 234 MB / 203 cpu-s at 10× — an 80× cliff for 10×
    * data). The counting join's volume is Σ_g df(g)² SKINNY rows — two
    * longs, no arrays — which is 28M rows at the 10× rung (measured;
    * max df = 25) and linear in corpus size whenever shingle frequency
    * is bounded, the normal case for 3-shingle dedup corpora. At a
    * boilerplate-heavy corpus where some df explodes (Σ df² ≫ N), the
    * classic mitigation is dropping stop-shingles above a df cap from
    * the index (Henzinger'06). That cap trades recall for the Σ df²
    * bound; no workload here needs it, so the join stays exact.
    *
    * Evaluated and REJECTED (r6): reinstating PPJoin prefix filtering on
    * TOP of the counting join (index only each doc's df-ascending prefix,
    * count prefix co-occurrences, exact-verify survivors via the
    * pair-driven q113 machinery). Measured on the fixture distribution
    * (ratios carry across rungs — ScaleUp copies preserve within-copy
    * structure): Σ df_prefix² is only 2.9× below Σ df² (430k vs 1.27M
    * pair-rows at sf0.1), and the prefix path adds a df join on every
    * posting row, a per-doc ranking pass, and a second full-posting
    * verify join — more than the 2.9× buys. */
  /** PRECONDITION: `docs` must be persisted by the caller — this method
    * calls `docs.count()` eagerly at plan-construction time to size the
    * shuffle width, and an unpersisted frame would silently run the full
    * tokenize→shingle→sort materialization twice (guarded below so a
    * future composer fails fast instead). */
  private[graft] def q126FromDocs(spark: SparkSession, docs: DataFrame): DataFrame = {
    require(docs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "q126FromDocs requires a persisted docs frame (the width-sizing " +
        "count() would otherwise recompute the shingle pipeline)")
    // SHUFFLE_HASH's build side is ONE PARTITION of the whole posting
    // stream, so per-task build memory is total/width: with the session's
    // fixed 32 partitions (or worse, an AQE size-coalesced handful) the
    // build map grows linearly with the corpus — the 100× rung OOM'd the
    // 64 GiB heap in exactly this stage after AQE packed the postings
    // into 5 partitions. Width must therefore be DATA-PROPORTIONAL:
    // ~2000 docs' postings per partition keeps the build side at a few
    // tens of MB at every rung (docs is persisted by both callers, so
    // the count reads cached state, and the explicit width blocks AQE
    // coalescing). Both join sides project from the same repartitioned
    // frame, so the g-hash partitioning is reused and the join itself
    // adds no further exchange.
    val width = math.max(spark.sparkContext.defaultParallelism,
      (docs.count() / 2000L).toInt)
    val post = docs.select(col("doc_id"), size(col("s")).cast("long").as("n"),
      explode(col("s")).as("g"))
      .repartition(width, col("g"))
    // SHUFFLE_HASH, not sort-merge: both sides are the same exploded
    // posting stream — hash-partitioning is unavoidable but SORTING 10s of
    // millions of 20-char shingle keys is pure overhead for an equi-join
    // whose build side (one width-bounded partition's postings) fits memory
    post.select(col("g"), col("doc_id").as("doc1"), col("n").as("n1"))
      .join(post.select(col("g"), col("doc_id").as("doc2"), col("n").as("n2"))
        .hint("shuffle_hash"),
        Seq("g"))
      .filter(col("doc1") < col("doc2")
        && lit(2) * least(col("n1"), col("n2")) >= greatest(col("n1"), col("n2")))
      // partial count combines map-side inside the join's g-partitioning;
      // only the surviving (pair, partial) rows shuffle to the final agg
      .groupBy(col("doc1"), col("doc2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("uni", col("n1") + col("n2") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc1"), col("doc2"),
        round(col("inter").cast("double") / col("uni").cast("double"), 4).as("jacc"))
  }

  /** q133: tokenizer-vocabulary coverage audit — per source, the share
    * of token OCCURRENCES that fall outside the corpus top-K vocabulary
    * (K=16, ties broken count-desc-then-token so the cut is a total
    * order). This is the go/no-go before freezing a tokenizer: a source
    * whose OOV share spikes is about to train as `<unk>` soup. Shape:
    * one map-side-combined wordcount shuffle builds the vocab,
    * `orderBy.limit` turns the global cut into TakeOrderedAndProject
    * (per-partition top-K + driver merge of K·P rows), and the tiny
    * vocab rides back as a broadcast flag join over the token stream —
    * the corpus itself is scanned narrowly and never shuffled into the
    * join. The token explode runs twice (vocab pass + scoring pass);
    * both are narrow maps over the scan, cheaper at any scale than
    * persisting the exploded stream. */
  def q133OovRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(TA.tokens(col("text"))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(16)
      .select(col("token"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        (expr("(2 * n_oov * 10000 + n_tokens) DIV (2 * n_tokens)")
          .cast("double") / lit(1e4)).as("oov_share"))
  }

  /** q134: n-gram novelty rate — per document, the share of its DISTINCT
    * word bigrams whose first corpus occurrence (min doc_id over the
    * whole corpus) is this document. The aggregate novelty curve is the
    * diversity signal corpus assembly watches: a crawl slice whose
    * novelty collapses is re-scraping what the corpus already holds.
    * Shape: distinct (doc, gram) pairs from the native shingle
    * expression, ONE shuffle on gram where an unbounded `min over
    * (partition by gram)` tags each pair with its first owner (no
    * join — the window carries the per-gram min back to every row in
    * the same exchange), then a map-side-combined per-doc aggregate.
    * Documents with <2 tokens have no bigrams and drop out, matching
    * the oracle's empty-list unnest. */
  def q134NoveltyRate(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordShingles(TA.tokens(col("text")), 2))).as("gram"))
    bg.withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("gram"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (expr("(2 * n_novel * 10000 + n_grams) DIV (2 * n_grams)")
          .cast("double") / lit(1e4)).as("novel_share"))
  }

  /** q138: content-defined chunking (CDC) dup audit — chunk boundaries
    * fall where `rolling_hash(token) ≡ 0 (mod 8)`, a pure function of
    * LOCAL content, so inserting a sentence shifts chunk starts only
    * until the next boundary (fixed-width chunking — q82 — re-aligns
    * NOTHING after an insert; that asymmetry is why incremental backup
    * and incremental corpus dedup both use CDC). Per source: chunks,
    * corpus-duplicated chunks (hash seen >1x), and the duplicated share.
    * Shape: narrow scan → per-doc window cumsum of boundary flags (many
    * small doc partitions) → chunk reassembly by total-order struct sort
    * (bounded by construction: a chunk is a few tokens) → ONE shuffle on
    * chunk hash where an unbounded window count tags duplicates (q134's
    * no-join pattern) → map-side-combined per-source rollup. */
  def q138CdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        posexplode(TA.tokens(col("text"))).as(Seq("pos", "tok")))
    val marked = toks.withColumn("b",
      when(graft.functions.RollingHash(col("tok")) % 8 === 0, 1L).otherwise(0L))
    // the boundary token CLOSES its chunk: chunk id = boundaries strictly
    // before this position
    val chunked = marked.withColumn("chunk",
      coalesce(sum(col("b")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunks = chunked
      .groupBy(col("doc_id"), col("source"), col("chunk"))
      .agg(md5(concat_ws(" ",
        expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)")))
        .as("h"))
    chunks
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("source"), col("n_chunks"), col("n_dup_chunks"),
        (expr("(2 * n_dup_chunks * 10000 + n_chunks) DIV (2 * n_chunks)")
          .cast("double") / lit(1e4)).as("dup_share"))
  }

  /** q139's default `spark.graft.audit.sampleDenom`: the full corpus, the
    * setting the oracle is built for (Verify rejects any other). */
  val sampleDenom = 1L

  /** q139: LSH recall audit — q19's MinHash-LSH candidate set graded
    * against q126's EXACT prefix-join ground truth at the same J ≥ 0.5
    * threshold: recall = |LSH ∩ exact| / |exact|. This is the audit that
    * justifies (or vetoes) running the cheap probabilistic dedup at scale
    * instead of the exact one — q59 audits MinHash's per-pair ESTIMATE,
    * this audits the banding's pair-level RECALL. Two independent
    * algorithms on both engines: the Spark side joins the two operators'
    * outputs; the oracle nests both relational formulations verbatim.
    *
    * The audit is quadratic BY DEFINITION (exact ground truth), so at
    * scale it runs on a deterministic doc_id sample — the design posture
    * made executable: `spark.graft.audit.sampleDenom` = d keeps docs with
    * doc_id % d = 0 (a 1/d sub-corpus; pseudo-random under the fixture's
    * dense ids and ScaleUp's copy offsets), BOTH algorithms run on the
    * same sample, and the fraction is carried in the output schema as
    * `sample_denom` so a recorded recall is never mistaken for a
    * full-corpus measurement. Default d = 1 (full corpus — the oracle's
    * fixed formulation). Recall estimated on a uniform doc sample is an
    * unbiased estimator of pair-level recall restricted to sampled-pair
    * space; the audit's verdict (keep/veto the banding) needs the RATE,
    * not the roster. */
  def q139LshRecall(spark: SparkSession, dir: String): DataFrame = {
    // ONE shared shingle frame feeds both algorithms (tokenize→shingle→
    // sort-distinct runs once, not twice — MinHash is set-insensitive, see
    // sortedShingleSets), and the LSH candidate pipeline is persisted
    // because it feeds the recall join AND the n_lsh count. The 1-row
    // result is evaluated eagerly inside withPersisted so both cache
    // entries are released before this function returns.
    val denom = spark.conf.getOption("spark.graft.audit.sampleDenom")
      .map(_.toLong).getOrElse(sampleDenom)
    require(denom >= 1, s"spark.graft.audit.sampleDenom must be >= 1: $denom")
    val all = sortedShingleSets(spark, dir)
    val docs = if (denom > 1) all.where(col("doc_id") % denom === 0) else all
    val lsh = Dedup.candidatePairs(
      bandedFrom(docs.select(col("doc_id"), col("s").as("sh"))))
    graft.ops.Caching.withPersisted(docs, lsh) {
      val exact = q126FromDocs(spark, docs).select(col("doc1"), col("doc2"))
      val row = exact
        .join(lsh.withColumn("hit", lit(1L)), Seq("doc1", "doc2"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .crossJoin(broadcast(lsh.agg(count(lit(1)).as("n_lsh"))))
        .select(col("n_exact"), col("n_lsh"), col("n_hit"),
          (expr("(2 * n_hit * 10000 + n_exact) DIV (2 * n_exact)")
            .cast("double") / lit(1e4)).as("recall"),
          lit(denom).as("sample_denom"))
      val out = row.collect()
      spark.createDataFrame(java.util.Arrays.asList(out: _*), row.schema)
    }
  }

  /** q140: score-calibration curve for q136's purchase-vs-error score —
    * equi-count deciles on the distinct-score spine (bin = ⌊10·pt/N⌋
    * from the EXCLUSIVE prefix count, so every occurrence of a value
    * lands in one bin, deterministically) with per-bin positive rate and
    * mean score in integer arithmetic. Read next to q136: AUC says the
    * score RANKS well; this says whether its LEVEL means anything. Same
    * GlobalIndex machinery — no row sort, spine scales with distinct
    * scores. */
  def q140Calibration(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val spine = e.groupBy(col("cents"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("a"),
        count(lit(1)).as("t"))
    val tot = spine.agg(sum(col("t")).as("n"))
    graft.ops.GlobalIndex
      .withGlobalCumSum(spine, Seq(col("cents")), col("t"), "pt")
      .crossJoin(broadcast(tot))
      .withColumn("bin", expr("pt * 10 DIV n"))
      .groupBy(col("bin"))
      .agg(sum(col("t")).as("n_rows"), sum(col("a")).as("n_pos"),
        sum(col("cents") * col("t")).as("cents_sum"))
      .select(col("bin"), col("n_rows"), col("n_pos"),
        (expr("(2 * n_pos * 10000 + n_rows) DIV (2 * n_rows)")
          .cast("double") / lit(1e4)).as("pos_rate"),
        (expr("(2 * cents_sum * 100 + n_rows) DIV (2 * n_rows)")
          .cast("double") / lit(1e2)).as("mean_cents"))
  }

  /** q141: PageRank hub scores on the near-dup candidate graph — the
    * centrality refinement of q108's raw degrees: a template/boilerplate
    * hub scores high even when its own degree is moderate because its
    * NEIGHBORS are dup-heavy too. Three [[graft.ops.PageRank]] rounds in
    * exact integer units (floor quantization is the cross-engine
    * contract); the oracle unrolls the identical recurrence as three CTE
    * levels over the same relational candidate formulation. Output is
    * docs ranked hubbiest-first with their exact integer rank units. */
  def q141Pagerank(spark: SparkSession, dir: String): DataFrame =
    graft.ops.PageRank.pageRank(q19MinhashLsh(spark, dir), iters = 3)
      .select(col("node").as("doc_id"), col("degree"),
        col("rank_units"), col("rank"))

  /** q143: length-bucketed batching audit — documents bucketed to the
    * next power-of-two token length (floor 16, cap 256), with real vs
    * padded token counts and the padding-waste share per bucket. This is
    * the number that decides a training batcher's bucket boundaries: the
    * waste IS the GPU time burned on pad tokens. The bucket ladder is an
    * explicit integer CASE — `2^⌈log2 n⌉` via FP log2 diverges between
    * engines exactly at the powers of two it needs to be right at. One
    * narrow scan + one tiny aggregate. */
  def q143PaddingWaste(spark: SparkSession, dir: String): DataFrame = {
    val n = TA.tokenCount(TA.tokens(col("text")))
    val bucket = when(n <= 16, 16L).when(n <= 32, 32L).when(n <= 64, 64L)
      .when(n <= 128, 128L).otherwise(256L)
    Tables.documents(spark, dir)
      .select(n.as("n"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens_real"))
      .select(col("bucket"), col("n_docs"),
        col("tokens_real"),
        (col("bucket") * col("n_docs")).as("tokens_padded"),
        (expr(
          "(2 * (bucket * n_docs - tokens_real) * 10000 + bucket * n_docs)" +
            " DIV (2 * bucket * n_docs)")
          .cast("double") / lit(1e4)).as("waste_share"))
  }

  /** q144: deterministic word-dropout augmentation — ~10% of token
    * OCCURRENCES dropped where `md5(doc_id:pos:token)` falls below a
    * fixed hex threshold, so the augmented corpus is a pure function of
    * the input (reproducible runs, resumable shards — the property that
    * separates pipeline augmentation from notebook augmentation).
    * Positions are 1-based in the hash input on BOTH engines. The output
    * row per document carries the kept-token count and the md5 of the
    * reconstructed augmented text — a whole-pipeline checksum: engines
    * must agree on the drop set AND the reassembly order to match. */
  def q144WordDropout(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(TA.tokens(col("text"))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
    val kept = toks.filter(substring(md5(concat_ws(":",
      col("doc_id"), col("pos"), col("tok"))), 1, 2) >= "1a")
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)")))
          .as("aug_md5"))
  }

  /** q178: exact duplicated-substring SPANS — the span-granular layer of
    * the dedup ladder (doc-exact q18 → fixed chunks q82 → CDC chunks q138
    * → fuzzy q19/q44): per document, the maximal token ranges covered by
    * any 8-token window that occurs ≥2 times ANYWHERE in the corpus (the
    * published exact-substring-dedup recipe: suffix-array span removal;
    * re-expressed relationally as sliding-window seed match + island
    * merge, the shape a distributed engine can run at corpus scale).
    *
    * Plan: windows are a narrow per-row transform (one md5 DIGEST per
    * 8-token window — the window text itself never leaves the row); the
    * corpus-frequency agg and the match-back join both shuffle only
    * (digest, doc_id, pos) — map-side combined, 16-byte-key rows, never
    * arrays. Matched positions then shuffle ONCE on doc_id; the island
    * merge (new span iff pos > prev + 8, i.e. the windows neither overlap
    * nor touch) and the span rollup are two window passes + one agg over
    * the SAME doc_id partitioning — Catalyst plans a single exchange.
    * At 100 TB the digest agg is the only corpus-wide shuffle and it
    * carries ~(n_tokens) fixed-width rows; dup docs (the output) are a
    * small fraction. Within-doc repeats count as duplication (same
    * convention as q82's global nk>1 — self-boilerplate IS duplication). */
  /** Window digest shared by the exact-substring dedup family (q178/q182).
    *
    * Default: the full 32-hex md5 of the space-joined window — what the
    * DuckDB oracle computes, so CORRECTNESS compares untruncated digests.
    * `spark.graft.dedup.digestHex = N` (8..32) truncates to the FIRST N hex
    * chars — the executable 100-TB path: the digest agg and the match-back
    * join are the family's only corpus-wide shuffles and their rows are
    * digest-dominated, so a 16-hex (64-bit) digest roughly halves the
    * family's shuffle volume. Collision risk at 64 bits is ~n²/2⁶⁵ for n
    * distinct windows (~0.3% at 10¹⁰ windows), and a collision only OVER-
    * counts duplication — acceptable for dedup, never for the oracle gate.
    * Truncation (not a different hash) keeps the cross-engine contract: any
    * engine truncating the same md5 to the same width matches exactly
    * (ApproxPathsSpec pins 16-hex spans/rewrites == 32-hex on the fixture,
    * where no 64-bit collisions exist). */
  /** The gram-key twin of [[winDigest]] for the families whose corpus-wide
    * shuffles are keyed on SHORT grams (q57 3-grams, q115 bigram tokens,
    * q187 4-grams): `spark.graft.dedup.digestHex = N` (8..32) re-keys
    * those aggregations/joins on the first N hex of md5(gram). Unlike
    * q178's 8-token windows the raw grams here are already narrow, so the
    * DEFAULT stays the raw string (oracle-exact, zero hash cost, conf
    * unset → None); the digest pays off at 100-TB vocabulary widths where
    * fixed-width keys keep shuffle rows constant-size and hash/compare
    * cost flat regardless of gram length or encoding. Output is
    * digest-invariant: q115/q187 emit only counts over the keys and q57
    * carries the gram through as a payload — a collision merges gram
    * groups (over-counts duplication / under-counts distincts), the same
    * accepted risk posture winDigest documents, and never the oracle gate
    * (conf unset there). ApproxPathsSpec pins 16-hex == raw on the
    * fixture for all three queries. */
  private def gramKeyOpt(spark: SparkSession): Option[Column => Column] =
    digestHexOpt(spark).map { hexn =>
      // binary form for the same reason as winDigest: the digest is an
      // internal key, unhex is a bijection, half the key bytes
      (g: Column) => unhex(substring(md5(g), 1, hexn))
    }

  /** `spark.graft.dedup.digestHex`, the md5 digest width in hex chars,
    * shared by [[gramKeyOpt]] and [[winDigest]]. Contract: unset, or an
    * EVEN integer in [8, 32]. Both paths key on `unhex` of the truncated
    * digest, which cuts in whole bytes, so an odd width fails the query
    * loudly rather than being rounded to a width the caller did not ask
    * for. */
  private def digestHexOpt(spark: SparkSession): Option[Int] =
    spark.conf.getOption("spark.graft.dedup.digestHex").map { n =>
      val hexn = n.toInt
      require(hexn >= 8 && hexn <= 32 && hexn % 2 == 0,
        s"spark.graft.dedup.digestHex must be even and in [8, 32], got $n")
      hexn
    }

  private def winDigest(spark: SparkSession, toks: Column, i: Column, w: Int): Column = {
    val hexn = digestHexOpt(spark).getOrElse(32)
    // BINARY digests (r11, guide §2.3 narrower types): the window key is
    // internal — it feeds the dup aggregate and the match-back join and
    // never reaches any output — and unhex is a bijection on hex strings,
    // so 16-byte binary keys group/join IDENTICALLY to the 32-char hex
    // form while halving every digest exchange's key bytes and comparing
    // word-at-a-time instead of char-at-a-time.
    val full = md5(concat_ws(" ", slice(toks, i, lit(w))))
    unhex(if (hexn == 32) full else substring(full, 1, hexn))
  }

  def q178DupSpans(spark: SparkSession, dir: String): DataFrame = {
    val W = 8
    // unconditional spread KEPT here (unlike the verify family's
    // spreadDocs): removing it at the 1000× rung cut shuffle 16% but the
    // sibling q182 measured +51% cpu / +53% wall on the same change —
    // the window-digest explode wants the round-robin balance more than
    // it wants the exchange back (measured rejection, r8)
    // Examined and REJECTED (r11): caching this stream (repartition(h) +
    // lazy localCheckpoint, so the dup aggregate and the match-back semi
    // join share one compute and one exchange) A/B'd between 17.8 s and
    // 69.0 s across identical rung invocations — the corpus-scale row
    // cache trades the second map-side-combined digest pass for
    // serde/GC on ~10 GB of cached windows, and at 100 TB a
    // corpus-proportional cache is infeasible outright. The shipped
    // shape keeps the recompute (map-side partial agg prices the dup
    // exchange) and narrows the digest itself instead (see winDigest).
    val wins = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= W)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        posexplode(transform(sequence(lit(1), size(col("toks")) - (W - 1)),
          i => winDigest(spark, col("toks"), i, W))).as(Seq("pos", "h")))
      .select(col("doc_id"), col("n_tokens"), col("pos"), col("h"))
    val dup = wins.groupBy(col("h")).agg(count(lit(1)).as("nh"))
      .where(col("nh") >= 2).select(col("h"))
    // shuffle_hash PINNED (r11, guide §3): at the 100x rung the dup key
    // set measures right at the 256 MB AQE broadcast ceiling, so
    // identical runs flip-flopped between a co-partitioned join and a
    // driver-built multi-GB broadcast hash relation (measured 22.4 s vs
    // 69.0 s, cpu 527 vs 979 on the SAME code). Both sides are already
    // h-exchanged; hashing the dup side is strictly cheaper than
    // sorting 10^8 digests, and the pin removes the cliff.
    val matched = wins.join(dup.hint("shuffle_hash"), Seq("h"), "left_semi")
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = matched
      .withColumn("new_span",
        when(lag(col("pos"), 1).over(byDoc).isNull
          || col("pos") > lag(col("pos"), 1).over(byDoc) + W, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("n_tokens"), col("span_id"))
      .agg((max(col("pos")) - min(col("pos")) + W).cast("long").as("span_tokens"))
    spans.groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("span_tokens")).as("dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_dup_spans"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens").cast("double"), 4)
          .as("dup_share"))
  }

  /** q182: the REMOVAL pass that completes q178 — exact substring dedup's
    * actual output: every duplicated 8-token window keeps its corpus-FIRST
    * occurrence (minimal (doc_id, pos) struct — the published keep-one
    * rule) and every other occurrence's token positions are cut; the
    * result row carries the rewritten-text md5 (q144's reassembly
    * checksum convention: both engines must agree on the cut set AND the
    * reassembly order to match). Fully-deduplicated documents emit no row
    * — their kept token set is empty, matching the recipe's discard of
    * emptied docs. Within-doc repeats dedup too (the second back-to-back
    * copy of a phrase is cut, the first kept).
    *
    * Plan: same digest-only window stream as q178; the keeper is a
    * min(struct) carried INSIDE the digest agg (no second pass); cut
    * positions explode only from REMOVABLE windows (≤ 8 rows per
    * duplicated occurrence — bounded by the dup volume, not the corpus)
    * and collapse to ONE SORTED int-array row per affected doc; the
    * rewrite is then a native O(|toks|+|cuts|) two-pointer merge walk
    * ([[graft.functions.PruneSortedPositions]]) over the original token
    * array — the token stream is never exploded, never anti-joined, never
    * re-sorted (the array already carries the order). The first form of
    * this query exploded all tokens, anti-joined the cut set and
    * re-assembled via array_sort(collect_list(struct)) — measured 1505
    * cpu-s at the 100× rung vs ~600 for the digest stage alone; the
    * second used `filter(toks, (t, i) -> !array_contains(cuts, i))`,
    * which re-scans the cut array per token — O(|toks|·|cuts|) per ROW,
    * quadratic exactly on the long heavily-duplicated documents this
    * operator exists for (the r5 verdict's one `weak`). Measured via
    * `graft.tools.Probe q182long` on one ~100%-dup doc: 30k tokens —
    * HOF form 25.0 s vs walk 4.8 s; 120k tokens — HOF 336.8 s vs walk
    * 5.6 s (4× tokens → 16× the HOF rewrite stage, flat for the walk;
    * a 1M-token doc extrapolates to ~6.5 HOURS in one task vs <1 s).
    * At 100 TB the only corpus-wide shuffles are the digest agg and
    * the per-doc cut-array join, both fixed-width. */
  def q182DedupRewrite(spark: SparkSession, dir: String): DataFrame = {
    val W = 8
    // unconditional spread KEPT (q178's rationale): the conditional form
    // measured 435 s / 13,025 cpu-s at the 1000× rung vs the suite
    // record's 284 s / 8,613 — the rewrite's grouped re-read leans on
    // the balanced layout (measured rejection, r8)
    val toks = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
    val wins = toks
      .where(size(col("toks")) >= W)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("toks")) - (W - 1)),
          i => winDigest(spark, col("toks"), i, W))).as(Seq("pos", "h")))
    val keepers = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("nh"),
        min(struct(col("doc_id"), col("pos"))).as("k"))
      .where(col("nh") >= 2)
      .select(col("h"), col("k.doc_id").as("kdoc"), col("k.pos").as("kpos"))
    // shuffle_hash PINNED: q178's rationale — the keeper table sits at
    // the AQE broadcast ceiling at the rung (measured 30.5 s vs 96.9 s
    // run flip on identical code, cpu 801 vs 2615).
    val cuts = wins.join(keepers.hint("shuffle_hash"), Seq("h"))
      .where(!(col("doc_id") === col("kdoc") && col("pos") === col("kpos")))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (W - 1))).as("tp"))
      .distinct()
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("tp"))).as("cuts"))
    toks.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        graft.functions.GraftFunctions.pruneSortedPositions(col("toks"),
          coalesce(col("cuts"), array().cast("array<int>")))
          .as("kept"))
      .where(size(col("kept")) > 0) // fully-deduplicated docs emit no row
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept")).cast("long")).as("n_removed"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("kept_md5"))
  }

  /** q179: BM25 top-k lexical retrieval — the term-match complement to the
    * embedding similarity family (q22/q23/q29 answer "nearest vector";
    * this answers "best keyword match", the other half of every retrieval
    * / decontamination stack). Terms are word-3-grams (the fixture's
    * 31-token vocabulary makes unigram retrieval degenerate — q57's
    * phrase-term convention), queries are the bounded q54-style slice
    * (doc_id % 100 == 0), the searched collection is everything else.
    *
    * Score(q,d) = Σ_{t∈q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with k1=1.2, b=0.75 and the Lucene positive idf ln(1+(N−df+½)/(df+½))
    * = ln((2N+2)/(2df+1)) — an ln over EXACT INTEGER counts (q89's
    * convention). Each per-term contribution is evaluated in ONE fixed
    * double shape (avgdl enters as the exact-integer cross product dl·N
    * over total grams — never a pre-divided constant) and floor-quantized
    * to integer micro-units BEFORE the per-(query,doc) sum, so the final
    * score is an order-independent integer agg both engines bit-match.
    *
    * Plan at scale: tf is one map-side-combined (doc, gram) agg; df
    * REUSES tf's output (one row per (doc,gram) — q56's no-second-pass
    * trick) and rides the same gram partitioning; N and total-gram count
    * are a 1-row broadcast; the bounded query-gram set broadcasts onto
    * the tf stream (contribution volume = Σ_{t∈queries} df(t), capped by
    * the df ≤ 50 stop-phrase band — q57's guard against the posting lists
    * that explode at corpus scale); top-3 per query is a qid-partitioned
    * window over ≤ |queries|·Σdf rows. The corpus never self-joins. */
  def q179Bm25(spark: SparkSession, dir: String): DataFrame = {
    val byQ = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    bm25Scored(spark, dir)
      .withColumn("rank", row_number().over(byQ).cast("long"))
      .where(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("doc_id"), col("score_micro"))
  }

  /** The BM25 scored frame (qid, doc_id, score_micro) shared by q179
    * (which ranks it top-3) and q181's hybrid fusion (which fuses its
    * top-10 with the semantic arm). See [[q179Bm25]] for the full
    * scoring/exactness/scale contract. */
  private[queries] def bm25Scored(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(Dedup.shingles3(col("toks"))).as("gram"))
    // persisted (r10): corpusTf feeds FOUR branches (df, dl, totals, and
    // the contribution join) — lazily each branch re-ran the tokenize →
    // shingle → (doc, gram) count pipeline including its corpus-wide
    // exchange (measured at the 100× rung: q179 112 s / 1,860 cpu-s /
    // 2.0 GB shuffled; persisted: the gram exchange is paid once). Leaf-
    // query cache contract like q126's shingle frame: Bench/Verify
    // clearCache() is the release point (ContractSpec documents it).
    // gram-partitioned BEFORE the persist: hashpartitioning(gram) satisfies
    // the (doc_id, gram) group-by's clustered distribution, the df
    // aggregate's, AND the contribution join's — so the cached frame is
    // built with ONE exchange and the gram-keyed consumers add none (10x
    // ScaleUp: q179 7.7 s vs 8.7 s without it, 26 % less shuffled).
    // Skew bound: one partition holds ≤ max-df rows per gram, and the
    // stop-phrase band caps useful df at 50 (hot grams above it are
    // filtered after the cheap count).
    val corpusTf = grams.where(col("doc_id") % 100 =!= 0)
      .repartition(col("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = corpusTf.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .where(col("df") <= 50) // stop-phrase band: caps posting length
    val sizes = corpusTf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val totals = corpusTf.agg(
      count_distinct(col("doc_id")).as("nd"), sum(col("tf")).as("tot"))
    val qGrams = grams.where(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"), col("gram")).distinct()
    val contrib = corpusTf
      .join(broadcast(qGrams), Seq("gram"))
      .join(df, Seq("gram"))
      .join(sizes, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .select(col("qid"), col("doc_id"),
        floor(lit(1000000.0) * (
          log((lit(2.0) * col("nd").cast("double") + lit(2.0))
            / (lit(2.0) * col("df").cast("double") + lit(1.0)))
          * ((lit(2.2) * col("tf").cast("double"))
            / (col("tf").cast("double") + lit(0.3)
              + (lit(0.9) * (col("dl") * col("nd")).cast("double"))
                / col("tot").cast("double"))))).cast("long").as("c"))
    contrib.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("c")).as("score_micro"))
  }

  /** q183: DSIR importance weights — data selection by hashed-n-gram
    * importance resampling (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every raw-corpus document
    * by how target-like its token distribution is, log p_target(doc) −
    * log p_raw(doc) under two bag-of-hashed-features models. The weight
    * is what importance resampling samples by; this emits it per document
    * — the selection step every "train on quality-like data" pipeline
    * runs between crawl and tokenizer. Target = source `src0` (the
    * curated-domain stand-in), raw = every other source; features are
    * tokens hashed into 256 buckets (md5's first two hex digits — the
    * fixture's q40 md5 convention), models are Laplace-smoothed bucket
    * distributions.
    *
    * Exactness: the per-bucket log-ratio λ(b) = ln(p_t(b)/p_r(b)) is ONE
    * fixed double shape over exact integer counts — ln(((ct+1)·(nr+256))
    * / ((cr+1)·(nt+256))) — floor-quantized to integer micro-units per
    * BUCKET (256 values), so each document's weight is the exact integer
    * Σ c(doc,b)·λ_micro(b): order-independent, bit-equal cross-engine
    * (q179's quantize-before-sum convention).
    *
    * Scale shape: ONE tokenize pass; the (doc, bucket) count frame is the
    * only corpus-wide exchange (map-side combined, ≤256 rows per doc; the
    * frame is persisted because it feeds both the model agg and the
    * scoring agg — q126's cache contract, released by Bench/Verify
    * clearCache). The model is 256 rows + a 1-row total — both broadcast
    * (PlanSpec asserts no sort-merge join in the plan); the per-doc score
    * agg map-side combines to one row per doc before its exchange. At
    * 100 TB nothing but fixed-width (doc_id, b, c) and per-doc score rows
    * ever cross the wire — the text itself never shuffles. */
  def q183DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val nBuckets = 256
    val db = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(TA.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("source"),
        conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("int").as("b"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val isTarget = col("source") === "src0"
    val m = db.groupBy(col("b"))
      .agg(sum(when(isTarget, col("c")).otherwise(0L)).as("ct"),
        sum(when(isTarget, 0L).otherwise(col("c"))).as("cr"))
    val tot = m.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val lam = m.crossJoin(broadcast(tot))
      .select(col("b"),
        floor(lit(1000000.0) * log(
          ((col("ct") + 1).cast("double") * (col("nr") + nBuckets).cast("double"))
            / ((col("cr") + 1).cast("double") * (col("nt") + nBuckets).cast("double"))))
          .cast("long").as("lam_micro"))
    db.where(!isTarget)
      .join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("lam_micro")).as("dsir_micro"))
  }

  /** q184: sequence-packing layout audit — the GPT-style concat-and-chunk
    * training layout: the corpus is one global token stream (doc_id
    * order) chopped into fixed 512-token sequences, and each sequence is
    * graded by composition — how many documents it touches (`n_docs`),
    * how many START inside it (`n_starts`, the cross-attention boundary
    * count a boundary-aware mask needs), and its token fill (`n_tokens`,
    * 512 everywhere but the ragged tail). Completes the packing trio:
    * q91 lays out CHAR shards at doc granularity (no splits), q143 prices
    * the pad-to-bucket alternative's waste, this one audits the
    * zero-waste split-at-budget layout every large pretraining run uses.
    *
    * Scale shape: the global prefix sum is [[graft.ops.GlobalIndex]]'s
    * two-level scan (range partition + per-partition offsets folded in
    * place — never a single-partition ORDER BY window); each doc then
    * explodes to its overlapped sequences — Σ(n_i/512) + n_docs ≈
    * corpus_tokens/512 skinny rows — and the per-sequence agg is one
    * map-side-combined groupBy. Nothing carries text; nothing is
    * quadratic in document length (a 1M-token doc emits ~2k span rows). */
  def q184SeqPacking(spark: SparkSession, dir: String): DataFrame = {
    val B = 512L
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), size(TA.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
    val g = graft.ops.GlobalIndex.withGlobalCumSum(
      t, Seq(col("doc_id")), col("n"), "start")
    val spans = g
      .select(col("start"), (col("start") + col("n")).as("e"),
        explode(sequence(expr(s"start DIV $B"),
          expr(s"(start + n - 1) DIV $B"))).as("seq_id"))
    spans.groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("start") >= col("seq_id") * B, 1L).otherwise(0L))
          .as("n_starts"),
        sum(least(col("e"), (col("seq_id") + 1) * B)
          - greatest(col("start"), col("seq_id") * B)).as("n_tokens"))
  }

  /** q186: temperature-flattened source-mixing plan — the published
    * multilingual/multi-source recipe (sample source i with p_i ∝ c_i^α,
    * α < 1, so small sources are upweighted without letting any one
    * dominate): per source, its exact token count, its α=1/2 temperature
    * weight, its normalized sampling probability, and the expected EPOCH
    * COUNT (how many times the source is re-read when the sampled budget
    * equals the corpus total — the number that tells you which sources
    * will memorize).
    *
    * Numeric contract (the q181 integer-fusion posture): α is fixed at 1/2
    * BECAUSE sqrt is IEEE-correctly-rounded — `pow(x, 0.3)` is not
    * bit-portable across engines, `sqrt` is. weight_micro =
    * floor(1e6·sqrt(c_i/c_max)) is a chain of SINGLE correctly-rounded
    * double ops (exact long→double below 2^53, one divide, one sqrt, one
    * multiply, floor), so both engines agree bit-for-bit; everything after
    * is pure integer math — p_micro = (w_i·1e6) DIV Σw over EXACT integer
    * weights (the FP-sum ordering hazard never arises), epochs_micro =
    * (p_micro·T) DIV c_i in decimal(38,0) (DuckDB HUGEINT) so the product
    * can't overflow at any corpus size.
    *
    * Scale shape: the corpus-wide work is ONE map-side-combined token-sum
    * agg to #sources rows; c_max, T and Σw ride 1-row broadcasts. The
    * normalization is O(#sources) — deliberately NOT pushed to a fancier
    * plan, because source counts are bounded (tens) while the token count
    * is the 100-TB scan; flattening the tiny step into the query keeps the
    * whole plan three broadcast joins over a 20-row frame. */
  def q186TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), size(TA.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
    val tot = counts.agg(max(col("n_tokens")).as("c_max"),
      sum(col("n_tokens")).as("t_total"))
    val w = counts.crossJoin(broadcast(tot))
      .withColumn("weight_micro",
        floor(lit(1000000.0d) *
          // nullif guard (the q187 posture): in the fully degenerate
          // corpus (every source tokenizes empty, c_max = 0) Spark's
          // 0.0/0.0 is NaN and floor(NaN) is 0, while DuckDB's 0/0 is
          // NULL — dividing by nullif(c_max,0) makes BOTH engines emit
          // a NULL weight so the bit-parity contract holds on that path
          sqrt(col("n_tokens").cast("double") /
            nullif(col("c_max"), lit(0L)).cast("double"))))
    val denom = w.agg(sum(col("weight_micro")).as("w_sum"))
    w.crossJoin(broadcast(denom))
      .withColumn("p_micro", expr("(weight_micro * 1000000) DIV w_sum"))
      .select(col("source"), col("n_tokens"), col("weight_micro"), col("p_micro"),
        expr("CAST((CAST(p_micro AS DECIMAL(38,0)) * t_total) DIV n_tokens AS BIGINT)")
          .as("epochs_micro"))
  }

  /** q187: per-source 4-gram COLLISION index — the inter-document
    * homogeneity audit that completes the duplication family's
    * measurement axis: q55 scores repetition WITHIN a doc, q176 measures
    * how source DISTRIBUTIONS differ, this measures how much a source
    * repeats ITSELF across documents — the probability that two distinct
    * 4-gram slots drawn from the source carry the same gram,
    * Σ_g c_g·(c_g−1) / (G·(G−1)) in exact ppm (the Rényi-2 collision
    * form of self-BLEU: boilerplate-heavy sources score high before any
    * pairwise comparison is run — the cheap triage in front of q19/q44).
    *
    * All integer: counts are exact, the collision sum accumulates in
    * decimal(38,0) (DuckDB HUGEINT — c² overflows a long at corpus
    * scale), and the final ppm is integer division with a nullif guard
    * (a one-gram source has no pair to collide — NULL, not a crash).
    * Sources with no 4-grams emit no row (nothing to measure).
    *
    * Scale shape: the (source, gram) count is the only corpus-wide
    * exchange — map-side combined, so pre-shuffle volume is bounded by
    * per-partition distinct grams; the per-source rollup partially
    * aggregates to #sources rows per partition before its tiny exchange.
    * Gram strings shuffle raw by default (the q179 posture); at 100 TB
    * widths set `spark.graft.dedup.digestHex` ([[gramKeyOpt]]) to key the
    * exchange on fixed-width digests instead. */
  def q187GramCollision(spark: SparkSession, dir: String): DataFrame = {
    val cg = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.WordShingles(TA.tokens(col("text")), 4)).as("g0"))
      // gramKeyOpt (the digestHex conf): only counts over the gram reach
      // the output, so the corpus-wide (source, gram) exchange can key on
      // the fixed-width digest — a collision merges two gram groups
      // (n_distinct down by 1, coll up), the documented posture
      .select(col("source"),
        gramKeyOpt(spark).fold(col("g0"))(k => k(col("g0"))).as("g"))
      .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
    cg.groupBy(col("source"))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        sum(col("c").cast("decimal(38,0)") * (col("c") - 1)).as("coll"))
      .select(col("source"), col("n_grams"), col("n_distinct"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * coll)
                DIV nullif(CAST(n_grams AS DECIMAL(38,0)) * (n_grams - 1), 0)
                AS BIGINT)""").as("collision_ppm"))
  }

  /** Eval-slice membership for the cross-corpus decontamination family:
    * every 50th doc stands in for the benchmark set (q54 uses % 100 for
    * the EXACT-gram screen; the fuzzy screen takes a denser slice so the
    * fixture's planted near-dup pairs actually straddle the boundary). */
  private def isEvalDoc(id: Column): Column = id % 50 === 0

  /** q189: FUZZY benchmark decontamination — the near-duplicate complement
    * to q54's exact 3-gram screen (public pipelines run both: an exact
    * n-gram overlap pass and a MinHash near-dup pass, because light
    * paraphrase defeats exact grams). Candidates come from the SAME
    * MinHash-LSH banding as q19, but the bucket join is CROSS-SLICE only
    * (train side × eval side — train×train pairs never materialize, which
    * at a fixed eval-set size makes the join linear in corpus, not
    * quadratic); candidates are then verified with exact 3-shingle
    * Jaccard via the digest-array merge walk ([[pairOverlapCounts]])
    * and rolled up per train doc: how many eval docs it
    * collides with, the worst Jaccard, and the eval doc to cite
    * (tie-break: smallest eval id at the max). At 100 TB the eval side is
    * a bounded benchmark corpus, so its banded frame broadcasts and the
    * whole screen is a narrow pipeline over the train scan — here the
    * slice is proportional (a fixture artifact, same posture as q83's
    * embedding decontam) so the equi-join is left to size itself. */
  /** CACHE CONTRACT: the skinny cross-slice candidate-pair spine persists
    * until clearCache (Bench/Verify clear per query) — pairs drives the
    * verify's two digest-side key sets + join spine. Two longs per row.
    * The verified pairs are read once: one aggregate per train doc yields
    * the hit count and, as `max(struct(jacc, -doc2))`, the max Jaccard with
    * its eval doc — the smallest `doc2` at the maximum. */
  def q189FuzzyDecontam(spark: SparkSession, dir: String): DataFrame = {
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = shingled(spark, dir)
    val banded = bandedFrom(docs)
    val pairs = banded.filter(!isEvalDoc(col("doc_id")))
      .select(col("doc_id").as("doc1"), col("band"), col("band_key"))
      .join(banded.filter(isEvalDoc(col("doc_id")))
        .select(col("doc_id").as("doc2"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .select("doc1", "doc2").distinct()
      .persist(mad)
    pairOverlapCounts(docs, pairs)
      .select(col("doc1"), col("doc2"),
        round(col("inter").cast("double")
          / (col("n1") + col("n2") - col("inter")).cast("double"), 4).as("jacc"))
      .filter(col("jacc") >= 0.3)
      .groupBy(col("doc1"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(struct(col("jacc"), (-col("doc2")).as("neg_doc2"))).as("top"))
      .select(col("doc1").as("train_id"), col("n_eval_hits"),
        col("top.jacc").as("max_jacc"), (-col("top.neg_doc2")).as("top_eval_id"))
  }

  /** q190: per-source shared-prefix boilerplate detection — the header/
    * template screen web-curation pipelines run before dedup (a shared
    * leading span across many docs of one source is boilerplate to strip,
    * not content to keep). Key = the first 8 tokens joined; any prefix
    * carried by ≥ 2 docs of a source is reported with its doc count,
    * earliest doc, and the share of the source it covers (basis points,
    * the repo's integer half-up idiom). Scale shape: one map-side-combined
    * (source, prefix) agg over the scan — the prefix is a bounded-width
    * key (8 tokens), per-source totals ride a broadcast — so the screen
    * is agg-bound and linear at any corpus size. */
  def q190BoilerplatePrefix(spark: SparkSession, dir: String): DataFrame = {
    val W = 8
    val docs = Tables.documents(spark, dir)
    val pre = docs
      .select(col("source"), col("doc_id"), TA.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= W)
      .select(col("source"), col("doc_id"),
        concat_ws(" ", slice(col("toks"), 1, W)).as("prefix"))
    val tot = docs.groupBy(col("source")).agg(count(lit(1)).as("n_source_docs"))
    pre.groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc_id"))
      .filter(col("n_docs") >= 2)
      .join(broadcast(tot), Seq("source"))
      .select(col("source"), col("prefix"), col("n_docs"), col("first_doc_id"),
        expr("(2 * n_docs * 10000 + n_source_docs) DIV (2 * n_source_docs)")
          .as("share_bp"))
  }

  /** Tail depth for the Hill estimator: the top-(kTail+1) token counts per
    * source feed the fit; sources with fewer distinct tokens have no tail
    * to estimate and emit no row. 20 fits the fixture's ~31-token
    * per-source vocabulary; production corpora would run 100–1000 (the
    * oracle is generated from this constant, so the two sides track). */
  private val zipfTailK = 20

  /** q191: Zipf tail index per source — the Hill estimator
    * α̂ = k / Σ_{i≤k} ln(c_(i)/c_(k+1)) over each source's top-k token
    * frequencies, the standard power-law tail fit (Hill 1975; Clauset-
    * Shalizi-Newman's recommended MLE restricted to the rank tail).
    * Natural-language sources sit near α ≈ 1 (Zipf); a source whose tail
    * collapses (α ≫ 1: counts fall off a cliff past a few tokens) is
    * template/boilerplate output, and α ≪ 1 flags heavy-tailed junk —
    * the distributional screen next to q187's collision index.
    *
    * Scale shape: the (source, token) count is the only corpus-wide
    * exchange (map-side combined); the per-source top-(k+1) runs through
    * the bounded-heap [[graft.plans.TopKPerKey]] operator — O(k) state
    * per source, never a per-source full sort — and the rank/fit math
    * happens on ≤ (k+1)·|sources| rows. Engine parity: each ln term is
    * floor-quantized to integer micro-units before summing (the q89
    * idiom), so the sum is order-independent and the final α is a pure
    * function of integers; an all-equal tail (Σ = 0) yields NULL via
    * nullif, not a division blowup. */
  def q191ZipfTail(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(TA.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("cnt"))
    // bounded-heap top-(k+1) per source, THEN a row_number window on the
    // already-bounded frame (≤ k+1 rows per source) to split tail vs ref
    val ranked = graft.plans.TopK.perKey(counts, Seq(col("source")),
        Seq(col("cnt").desc, col("token").asc), zipfTailK + 1)
      .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("cnt").desc, col("token").asc)))
    val ref = ranked.filter(col("rk") === zipfTailK + 1)
      .select(col("source"), col("cnt").as("c_ref"))
    ranked.filter(col("rk") <= zipfTailK)
      .join(broadcast(ref), Seq("source")) // inner: undersized sources drop
      .select(col("source"),
        floor(log(col("cnt").cast("double") / col("c_ref").cast("double"))
          * lit(1e6)).cast("long").as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("k_used"), sum(col("t")).as("sum_ln_micro"))
      .select(col("source"), col("k_used"), col("sum_ln_micro"),
        round(col("k_used").cast("double") * lit(1e6)
          / expr("CAST(nullif(sum_ln_micro, 0) AS DOUBLE)"), 6).as("alpha_hill"))
  }

  /** q192: per-source n-gram diversity (distinct-n) — the corpus-level
    * type/token ratios for n = 1..3 (Li et al.'s distinct-n, the standard
    * diversity audit for generated or scraped text; q55 scores repetition
    * WITHIN a doc, q187 scores collision probability — this reports the
    * raw diversity ratios mixing decisions are usually stated in).
    * Ratios are exact basis points (integer half-up). Scale shape: one
    * map-side-combined (source, gram) agg per n — three passes over the
    * scan, each linear, nothing but (source, n, d) rows past the gram
    * agg. Sources whose docs are all shorter than n tokens emit NULLs
    * for that n (left joins off the 1-gram spine — every source with any
    * token has a 1-gram row). */
  def q192NgramDiversity(spark: SparkSession, dir: String): DataFrame = {
    def gramStats(n: Int, pfx: String): DataFrame = {
      val gramsOf = (t: Column) =>
        if (n == 1) TA.tokens(t) else graft.functions.WordShingles(TA.tokens(t), n)
      Tables.documents(spark, dir)
        .select(col("source"), explode(gramsOf(col("text"))).as("g0"))
        // gramKeyOpt (the digestHex conf): only counts over the gram reach
        // the output, so all three corpus-wide (source, gram) exchanges
        // can key on fixed-width digests (the q187 posture)
        .select(col("source"),
          gramKeyOpt(spark).fold(col("g0"))(k => k(col("g0"))).as("g"))
        .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as(s"n_$pfx"), count(lit(1)).as(s"d_$pfx"))
        .select(col("source"), col(s"n_$pfx"), col(s"d_$pfx"),
          expr(s"(2 * d_$pfx * 10000 + n_$pfx) DIV (2 * n_$pfx)")
            .as(s"distinct_${pfx}_bp"))
    }
    gramStats(1, "1gram")
      .join(gramStats(2, "2gram"), Seq("source"), "left")
      .join(gramStats(3, "3gram"), Seq("source"), "left")
  }

  /** q195: tokenizer fertility audit — per language: whitespace words vs
    * BPE-ish subword tokens ([[graft.functions.TokenClassCounts]], q27's
    * pre-tokenizer) and the fertility ratio in exact basis points, plus
    * chars-per-subword in exact micro-units. Fertility (subwords per
    * word) is the standard tokenizer-fairness number: a language whose
    * fertility runs 2× another's pays 2× the context length for the
    * same content, so corpus mixing by raw token count silently
    * under-weights it. Scale shape: both counters are one narrow native
    * expression over the scan; the only exchange is a ≤|langs|-row
    * map-side-combined agg. */
  def q195Fertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        TA.tokenCount(TA.tokens(col("text"))).as("w"),
        graft.functions.TokenClassCounts(col("text"))
          .getField("n_bpe_tokens").as("s"),
        length(col("text")).cast("long").as("ch"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("s")).as("n_subwords"), sum(col("ch")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
        expr("(2 * n_subwords * 10000 + n_words) DIV (2 * n_words)")
          .as("fertility_bp"),
        expr("(2 * n_chars * 1000000 + n_subwords) DIV (2 * n_subwords)")
          .as("chars_per_subword_micro"))

  /** q196: PSI drift audit — Population Stability Index of the
    * doc-length distribution between one source slice and the rest of
    * the corpus, the standard ML-ops drift gate (PSI < 0.1 stable,
    * > 0.25 investigate) and the distributional complement to q118's
    * token-level KL: q118 catches vocabulary drift, this catches shape
    * drift (a scraper that starts truncating pages moves length mass
    * across bins long before the vocabulary shifts). Bins are q143's
    * integer power-of-two token-count ladder (FP log2 diverges exactly
    * at the bucket edges); counts are add-1 smoothed over the union bin
    * set so no arm divides by zero. Engine parity: each bin's
    * ln(p_a/p_b) is evaluated in ONE fixed double shape over exact
    * integers — the cross products x·Nb′ and y·Na′ are built in
    * decimal(38,0)/HUGEINT (overflow-proof at any corpus size) and cast
    * to double for a single divide + ln — then floor-quantized to
    * integer nano-nats (the q118 idiom); the (p_a − p_b) factor stays
    * an exact integer numerator, so each contribution is (one exact
    * integer) × (one quantized integer) over a fixed denominator and
    * the final double is a shared expression shape. Scale shape: one
    * map-side-combined (bucket) conditional agg over the scan (≤5 rows
    * out), totals ride a 1-row broadcast — linear, join-free. */
  def q196PsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val n = TA.tokenCount(TA.tokens(col("text")))
    val bucket = when(n <= 16, 16L).when(n <= 32, 32L).when(n <= 64, 64L)
      .when(n <= 128, 128L).otherwise(256L)
    val slice = col("source") === "src0"
    val bins = Tables.documents(spark, dir)
      .select(bucket.as("bucket"), slice.as("in_slice"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("in_slice"), 1L).otherwise(0L)).as("c_a"),
        sum(when(col("in_slice"), 0L).otherwise(1L)).as("c_b"))
    val tot = bins.agg(sum(col("c_a")).as("na"), sum(col("c_b")).as("nb"),
      count(lit(1)).as("nbins"))
    bins.crossJoin(broadcast(tot))
      .select(col("bucket"), col("c_a").as("n_slice"), col("c_b").as("n_rest"),
        expr("CAST((c_a + 1) AS DECIMAL(38,0)) * (nb + nbins)").as("xnb"),
        expr("CAST((c_b + 1) AS DECIMAL(38,0)) * (na + nbins)").as("yna"),
        ((col("na") + col("nbins")).cast("double")
          * (col("nb") + col("nbins")).cast("double")).as("den"))
      .select(col("bucket"), col("n_slice"), col("n_rest"),
        floor(log(col("xnb").cast("double") / col("yna").cast("double"))
          * lit(1e9)).cast("long").as("ln_ratio_nano"),
        (col("xnb") - col("yna")).cast("double").as("dnum"), col("den"))
      .select(col("bucket"), col("n_slice"), col("n_rest"),
        col("ln_ratio_nano"),
        round(col("dnum") * col("ln_ratio_nano").cast("double")
          / col("den") / lit(1e9), 9).as("psi_contrib"))
  }

  /** q197: near-dup threshold calibration — the verified-Jaccard
    * histogram over ALL LSH candidate pairs (q20 applies the 0.3 gate;
    * calibration needs the full curve): 5-percent bins assigned by the
    * EXACT integer division (20·inter) DIV union — no FP touches the
    * bin edge, so boundary pairs land identically in both engines. This
    * is the table that sets the dedup threshold: the bin where the
    * candidate mass turns from noise floor to dup shoulder is where the
    * gate goes, and banding parameters are re-tuned when the noise-floor
    * share grows. Scale shape: exactly q20's candidate + digest-array
    * merge-walk machinery ([[pairOverlapCounts]]) collapsed to ≤21 rows.
    * CACHE CONTRACT (q20's): the skinny candidate-pair spine persists
    * until clearCache — it drives the verify's two digest-side key sets
    * and the join spine. Two longs per row. */
  def q197JaccCalibration(spark: SparkSession, dir: String): DataFrame = {
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = shingled(spark, dir)
    val pairs = Dedup.candidatePairs(bandedFrom(docs)).persist(mad)
    pairOverlapCounts(docs, pairs)
      .select(expr("(20 * inter) DIV (n1 + n2 - inter)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
      .select(col("bin"), (col("bin") * 5).as("lo_pct"), col("n_pairs"))
  }

  /** q198: LSH band-bucket occupancy audit — the join-cost predictor for
    * every banded family (q19/q21/q44/q83/q189): bucket sizes s from the
    * (band, band_key) agg, rolled to a histogram with each size's
    * candidate-pair contribution s·(s−1)/2 · n_buckets. The banded join's
    * cost is exactly Σ contributions, so ONE hot bucket (a boilerplate
    * band key) showing up here predicts the skew before the join runs —
    * this is the measurement behind the occupancy-adaptive band width.
    * Contribution in decimal(38,0)/HUGEINT: s² overflows a long only on
    * corpora where the audit matters most. Scale shape: the (band, key)
    * agg is the banding pipeline's own shuffle; the histogram is a
    * ≤|distinct sizes|-row rollup. */
  def q198BandOccupancy(spark: SparkSession, dir: String): DataFrame =
    bandedFrom(shingled(spark, dir))
      .filter(col("band_key").isNotNull) // shingle-less docs can never pair
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_buckets"))
      .select(col("s").as("bucket_size"), col("n_buckets"),
        expr("CAST(CAST(s * (s - 1) DIV 2 AS DECIMAL(38,0)) * n_buckets" +
          " AS BIGINT)").as("cand_pairs"))

  /** q201: bloom-gated incremental exact dedup — the "what lands from
    * tonight's batch" query, with the corpus-side cost structure a 100 TB
    * lake demands. Batch = docs with doc_id % 10 == 7; lake = the rest.
    * The naive form anti-joins batch keys against the LAKE's keys — a
    * shuffle proportional to the corpus on every increment. Here the lake
    * folds once into a bloom ([[graft.ops.Dedup.bloomGatedNewKeys]]):
    * build is a partial-aggregated bitset (bitwise-OR merge, no key ever
    * crosses an exchange), the batch probes it map-side via codegen'd
    * `might_contain`, and only probe-positives are verified against the
    * lake through a broadcast semi join (lake scanned map-side, zero
    * lake shuffle). Output is EXACT regardless of fp rate — the oracle
    * is the plain anti-join — grouped to one surviving row per new key
    * (q18's contract: min doc_id + within-batch dup count). */
  def q201BloomDedup(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), Dedup.normKey(col("text")).as("dedup_key"))
    val lakeKeys = keyed.filter(col("doc_id") % 10 =!= 7)
      .select(col("dedup_key"))
    val batch = keyed.filter(col("doc_id") % 10 === 7)
    Dedup.bloomGatedNewKeys(lakeKeys, batch, "dedup_key", 1000000L)
      .groupBy(col("dedup_key"))
      .agg(min(col("doc_id")).as("kept_doc_id"),
        count(lit(1)).as("dup_count"))
  }

  /** q203: consecutive-repeat (stutter) run audit — the degenerate-
    * generation detector ("the the the ...") every synthetic-data intake
    * runs next to q55's 2-gram repetition screen (q55 catches loops with
    * period ≥ 2; a pure token stutter has ONE distinct 2-gram per run and
    * can hide from it). Longest same-token run per doc computed by a
    * single `aggregate` fold over the token array — a pure narrow map
    * (state = (prev, current-run, best), no window, no per-doc shuffle),
    * so the only exchange in the plan is the ≤|sources|-row rollup.
    * Run-break semantics deliberately match the oracle's `lag(g) = g`:
    * plain (non-null-safe) equality, so a NULL token BREAKS a run in
    * both engines (TA.tokens never emits NULL elements today, but the
    * fold no longer depends on that invariant — ADVICE r7).
    * Scale shape: per-row cost linear in doc length, corpus cost linear
    * in tokens, shuffle O(|sources|) at any corpus size. */
  /** Longest same-token run over a `toks` array column — q203's fold,
    * factored for the NULL-semantics pin (OpsEdgeSpec): plain equality,
    * so a NULL element always breaks the run (matches the oracle's
    * `lag(g) = g`). Native codegen'd walk (r11): the previous
    * `aggregate(...)` HOF paid an interpreted lambda + a 3-field struct
    * allocation per token — 253 of q203's 253 cpu-s at the 100× rung
    * (48 KB shuffled; the query WAS this expression). See
    * [[graft.functions.MaxStutterRun]]. */
  private[graft] def maxStutterRun: Column =
    graft.functions.GraftFunctions.maxStutterRun(col("toks"))

  def q203StutterRuns(spark: SparkSession, dir: String): DataFrame = {
    val maxRun = maxStutterRun
    Tables.documents(spark, dir)
      .select(col("source"), TA.tokens(col("text")).as("toks"))
      .select(col("source"), maxRun.as("max_run"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("max_run") >= 2, 1L).otherwise(0L)).as("n_rep2_docs"),
        sum(when(col("max_run") >= 3, 1L).otherwise(0L)).as("n_stutter_docs"),
        max(col("max_run")).as("max_run"))
      .select(col("source"), col("n_docs"), col("n_rep2_docs"),
        col("n_stutter_docs"), col("max_run"),
        // half-up bp of stutter docs (run >= 3 = the generation-artifact
        // gate; run = 2 is common in natural text and only reported)
        expr("(2 * n_stutter_docs * 10000 + n_docs) DIV (2 * n_docs)")
          .as("stutter_bp"))
  }

  /** q204: inter-source gram-overlap matrix — the cross-source
    * contamination / mirror detector (two "different" crawls sharing most
    * of their 3-gram vocabulary are one corpus counted twice; the
    * per-PAIR complement of q176's distribution distance, which compares
    * token FREQUENCIES and can miss verbatim overlap under reweighting).
    * The naive form self-joins the distinct (source, gram) set on gram —
    * correct but it shuffles the gram set twice and re-materializes it
    * per side. Here each gram's source set is collapsed ONCE into a
    * presence-bit MASK (`bit_or` of per-source bits — one primitive long
    * of agg state per key; the skew ceiling is structural), pairs are
    * expanded from the mask's set bits by a nested `transform`, and the
    * matrix is a ≤|sources|²-row count. ONE gram-keyed exchange total;
    * with `spark.graft.dedup.digestHex` set the exchange carries
    * fixed-width digests, never gram text. Zero-overlap pairs are absent by
    * construction (nothing joins them), which is what keeps the output
    * — and the scale-ladder's cross-copy disjoint vocabularies — sparse. */
  def q204SourceGramOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.WordShingles(TA.tokens(col("text")), 3))
          .as("g0"))
      .select(col("source"),
        gramKeyOpt(spark).fold(col("g0"))(k => k(col("g0"))).as("g"))
    // source → bit index for the mask aggregate: the distinct source list
    // is |sources|-bounded by construction and collected once, eagerly, at
    // plan build (the q29 bounded-collect posture; sorted, so bit order =
    // lexicographic order and the pair orientation below is unchanged)
    val srcList = Tables.documents(spark, dir).select(col("source"))
      .distinct().orderBy(col("source")).as[String].collect().toSeq
    // per-gram source set collapsed to ONE LONG of presence bits
    // (`bit_or` over shifted bit indices): the agg state is a primitive
    // fixed-width long that lives in the codegen'd hash map, where the
    // r7 `collect_set` form kept a per-group array buffer — the object
    // pressure behind the measured 1000×-rung spill regime (164.7 s wall,
    // ~1.2× above linear; the digestHex=16 alternative was measured and
    // rejected in BASELINE.md — this is the structural cut instead). The
    // gram-keyed exchange now carries (g, 8-byte mask) partials; set-bit
    // pairs expand via the native [[graft.functions.MaskBitPairs]] (the
    // first cut's HOF expansion was measured 28% SLOWER than collect_set
    // at 1000× despite the shuffle win — interpreted lambdas per gram);
    // >63 sources falls back to the collect_set form (the mask is the
    // common case — a curated corpus has tens of sources, and ScaleUp
    // holds the source domain fixed across copies).
    val matrix0 =
      if (srcList.nonEmpty && srcList.length <= 63) {
        // source → bit via a codegen'd when-chain (≤63 comparisons, no
        // per-gram join probe), pair expansion via the NATIVE
        // mask_bit_pairs (one compiled loop per distinct gram; the
        // higher-order-function expansion it replaced ran ~63
        // interpreted lambdas per gram — measured +2,000 cpu-s at the
        // 1000× rung, see MaskBitPairs), matrix counted on the PACKED
        // int pair key and unpacked once on the ≤|sources|² result
        val bitOf = srcList.zipWithIndex.foldRight(lit(0L)) {
          case ((s, i), acc) =>
            when(col("source") === s, lit(1L << i)).otherwise(acc)
        }
        grams
          .select(col("g"), bitOf.as("b"))
          .groupBy(col("g")).agg(expr("bit_or(b)").as("m"))
          .select(explode(
            graft.functions.GraftFunctions.maskBitPairs(col("m"))).as("p"))
          .groupBy(col("p"))
          .agg(count(lit(1)).as("n_common"))
          .select(
            element_at(array(srcList.map(lit): _*),
              expr("p DIV 64").cast("int") + 1).as("src_a"),
            element_at(array(srcList.map(lit): _*),
              expr("p % 64").cast("int") + 1).as("src_b"),
            col("n_common"))
      } else {
        val srcSets = grams.groupBy(col("g"))
          .agg(array_sort(collect_set(col("source"))).as("ss"))
        srcSets
          .select(explode(expr(
            """flatten(transform(ss, (a, i) ->
              |  transform(slice(ss, i + 1, size(ss) - i), b ->
              |    named_struct('src_a', a, 'src_b', b))))""".stripMargin))
            .as("p"))
          .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
          .agg(count(lit(1)).as("n_common"))
      }
    // the expansion INCLUDES the diagonal (a, a): the matrix then carries
    // the per-source distinct-gram sizes on its diagonal, so the sizes
    // need no second pass over the scan (the r7 first cut ran a separate
    // distinct → count and paid the full gram exchange twice: 65.0 s at
    // the 100× rung; the diagonal form runs ONE exchange total)
    val matrix = matrix0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // matrix is <= |sources|² rows — the persist is bounded at any corpus
    // size, and the diagonal joins below read it, not the gram stream.
    // Cache contract (ContractSpec): lazy return depends on this pinned
    // frame; the release point is the caller's clearCache (Bench/Verify)
    val sizes = matrix.filter(col("src_a") === col("src_b"))
      .select(col("src_a").as("source"), col("n_common").as("d"))
    matrix.filter(col("src_a") < col("src_b"))
      .join(sizes.select(col("source").as("src_a"), col("d").as("d_a")),
        Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("d").as("d_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_common"), col("d_a"),
        col("d_b"),
        expr("(2 * n_common * 10000 + (d_a + d_b - n_common))" +
          " DIV (2 * (d_a + d_b - n_common))").as("jaccard_bp"),
        expr("(2 * n_common * 10000 + LEAST(d_a, d_b))" +
          " DIV (2 * LEAST(d_a, d_b))").as("containment_bp"))
  }

  /** q206: vocabulary-coverage / OOV audit — the tokenizer-readiness
    * screen (a source whose token mass falls outside the model's core
    * vocabulary trains badly at any mixing weight; run BEFORE committing
    * a mix, next to q195's fertility and q186's temperature weights).
    * Core vocabulary = global top-16 tokens by exact corpus count (ties
    * broken by token text so the cut is deterministic in both engines) —
    * a `limit` over the token-count aggregate, which Catalyst executes as
    * TakeOrderedAndProject (no global sort; the aggregate's width is the
    * corpus VOCABULARY, bounded by Heaps' law, not the corpus). The
    * 16-row vocab is statically broadcast (bounded by the limit — the
    * q185 posture: hint only what is provably small) onto the per-
    * (source, token) counts, so the coverage rollup adds no exchange
    * beyond the count's own. */
  def q206VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    // persisted: both the vocab cut and the coverage rollup read this
    // frame, and it is |sources| × vocabulary rows — bounded by Heaps'
    // law at any corpus size (the token EXPLODE behind it is not, and
    // without the persist both consumers re-run it: measured 8.7 s →
    // 1.9 s at the 100× rung). Cache contract (ContractSpec): release
    // point is the caller's clearCache (Bench/Verify)
    val bySrc = Tables.documents(spark, dir)
      .select(col("source"), explode(TA.tokens(col("text"))).as("g"))
      .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = bySrc.groupBy(col("g")).agg(sum(col("c")).as("cg"))
      .orderBy(col("cg").desc, col("g").asc).limit(16)
      .select(col("g"), lit(1).as("in_vocab"))
    bySrc.join(broadcast(vocab), Seq("g"), "left")
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("in_vocab").isNotNull, col("c")).otherwise(0L))
          .as("n_covered"),
        count(when(col("in_vocab").isNull, lit(1))).as("n_oov_types"))
      .select(col("source"), col("n_tokens"), col("n_covered"),
        col("n_oov_types"),
        expr("(2 * (n_tokens - n_covered) * 10000 + n_tokens)" +
          " DIV (2 * n_tokens)").as("oov_bp"))
  }

  /** q208: contamination-span REMOVAL rewrite — the removal form of
    * decontamination (q54 FLAGS contaminated train docs; q189 catches
    * paraphrase; published pipelines that keep flagged docs instead strip
    * the overlapping spans — the GPT-3 appendix-C posture). Composes
    * q54's eval-gram screen with q182's span-prune machinery: every
    * 8-token train window whose digest appears ANYWHERE in the benchmark
    * slice (doc_id % 100 == 0, q54's convention) is cut — no keeper
    * exemption, unlike q182: eval text has no right to survive in train —
    * and surviving tokens re-join via the native `prune_sorted_positions`
    * merge walk (linear, the q182 fix). Eval docs themselves are not
    * rewritten (they are the reference, not the corpus); fully-
    * contaminated docs emit no row (q182's contract). Scale shape: the
    * window exchange carries digests only (digestHex-aware winDigest);
    * the eval gram side joins semi with NO static hint — eval suites are
    * fixed-size in production, so AQE broadcasts the measured-small side
    * while a pathological eval slice degrades to a shuffle join instead
    * of an OOM (the r6 hint-sweep posture). */
  def q208DecontamRewrite(spark: SparkSession, dir: String): DataFrame = {
    val W = 8
    // no corpus repartition (unlike q182, whose grouped rewrite reads the
    // token stream back through an exchange anyway): here the cuts frame
    // is contamination-sized, AQE broadcasts it, and the corpus never
    // needs to move — a full-corpus repartition would be the plan's
    // dominant exchange for no semantic reason (measured: 7.3 GB of the
    // bloom-gated plan's 7.3 GB residual shuffle at the 1000× rung)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
    def wins(df: DataFrame): DataFrame = df
      .where(size(col("toks")) >= W)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("toks")) - (W - 1)),
          i => winDigest(spark, col("toks"), i, W))).as(Seq("pos", "h")))
    // persisted: the sizing count, the bloom build, and the verify semi
    // join all read the eval digest set, and it is eval-suite-sized —
    // bounded in production by construction (benchmarks are fixed-size;
    // the fixture's 1% slice is the stand-in). Cache contract
    // (ContractSpec): release point is the caller's clearCache.
    val bench = wins(toks.where(col("doc_id") % 100 === 0))
      .select("h").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bloom gate (q201's primitive, opposite polarity): contamination is
    // RARE by construction, so shipping every train window to the semi
    // join prices the exchange by the corpus (measured 15.1 GB at the
    // 1000× rung). The eval digests fold once into a bitset, train
    // windows probe it map-side, and only probe-positives (true hits +
    // the fp rate) reach the exact semi-join verify — no false negatives,
    // so AT THE DEFAULT 32-hex digest the rewrite is bit-identical and
    // the exchange is priced by the contamination (measured, with the
    // corpus repartition also removed: 15.1 → 1.61 GB shuffle, wall
    // 130.5 → 67.8 s, cpu halved). With spark.graft.dedup.digestHex
    // truncating winDigest, the exact verify itself runs on truncated
    // digests, so a train/eval digest collision cuts a clean span — the
    // winDigest accepted-risk posture (same class as the measured
    // digestHex=16 q204 rejection), NOT covered by the bloom's
    // no-false-negative guarantee.
    // bloom sized from the data, not a guess: an undersized bitset costs
    // fp-rate × corpus windows of verify shuffle (measured: the 1M
    // default at the 1000× rung's 5.65M eval digests left 3.7 GB of fp
    // traffic). The eager count is one metadata-cheap job over the 1%
    // eval slice (the q126 posture: count before sizing).
    val bloom = graft.functions.BloomFilters.bloomOf(bench, "h",
      math.max(bench.count(), 1000L))
    val cuts = wins(toks.where(col("doc_id") % 100 =!= 0))
      .where(graft.functions.BloomFilters.mightContain(
        bloom.scalar(), col("h")))
      .join(bench, Seq("h"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (W - 1))).as("tp"))
      .distinct()
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("tp"))).as("cuts"))
    toks.where(col("doc_id") % 100 =!= 0)
      .join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        graft.functions.GraftFunctions.pruneSortedPositions(col("toks"),
          coalesce(col("cuts"), array().cast("array<int>"))).as("kept"))
      .where(size(col("kept")) > 0)
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept")).cast("long")).as("n_removed"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("kept_md5"))
  }

  /** q209: token-budget water-filling — the ALLOCATOR on top of q186's
    * temperature weights (q186 states the target proportions p_i ∝ √c_i;
    * this turns them into a concrete per-source token grant under a
    * budget B with availability caps — the published mixing-plan shape:
    * grant min(c_i, λ·w_i) with λ the unique water level spending
    * exactly B, sources hitting their cap redistributing surplus to the
    * rest). Exact by construction: the capped set is characterized
    * per-boundary (prefix P capped ⟺ its own boundary caps AND no
    * later source would), every comparison is a decimal(38,0) cross-
    * multiplication (never a division), and λ is carried as the exact
    * integer pair (num, den) = (B − C_P, W − W_P) — ONE floor division
    * per source at the end. No window anywhere: prefix sums and the
    * violation screen run on the ≤|sources|²-row broadcast cross (the
    * q204/q207 bounded-matrix posture), so the plan holds at any corpus
    * size — the corpus appears only in the one token-count agg. The
    * budget is B = total/2. Zero-token sources emit no row (they can
    * neither receive nor cap). */
  def q209BudgetFill(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), size(TA.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("c"))
      .where(col("c") > 0)
    val tot = counts.agg(max(col("c")).as("c_max"), sum(col("c")).as("t_total"))
    val w = counts.crossJoin(broadcast(tot))
      .withColumn("wm",
        floor(lit(1000000.0d) * sqrt(col("c").cast("double") /
          nullif(col("c_max"), lit(0L)).cast("double"))).cast("long"))
      .select(col("source"), col("c"), col("wm"), col("t_total"))
    val budget = expr("t_total DIV 2")
    val probe = broadcast(w.select(col("source").as("src_j"),
      col("c").as("c_j"), col("wm").as("wm_j")))
    // exact order key: j before-or-equal i ⟺ c_j/wm_j < c/wm (cross-
    // multiplied) or equal with src_j <= source
    val beforeEq =
      (expr("CAST(c_j AS DECIMAL(38,0)) * wm") <
        expr("CAST(c AS DECIMAL(38,0)) * wm_j")) ||
      (expr("CAST(c_j AS DECIMAL(38,0)) * wm") ===
        expr("CAST(c AS DECIMAL(38,0)) * wm_j") && col("src_j") <= col("source"))
    val pre = w.crossJoin(probe)
      .groupBy(col("source"), col("c"), col("wm"), col("t_total"))
      .agg(sum(when(beforeEq, col("c_j")).otherwise(0L)).as("cum_c"),
        sum(when(beforeEq, col("wm_j")).otherwise(0L)).as("cum_w"),
        sum(col("wm_j")).as("w_total"))
    // candidate water levels: one per boundary source (prefix through it
    // capped) plus the no-caps candidate (num = B, den = ΣW)
    val cands = pre
      .select(col("source"), col("c"), col("wm"), col("cum_c"),
        (budget - col("cum_c")).as("num"),
        (col("w_total") - col("cum_w")).as("den"))
      .unionByName(pre.groupBy()
        .agg(first(col("t_total")).as("t_total"), sum(col("wm")).as("w_total"))
        .select(lit(null).cast("string").as("source"),
          lit(null).cast("long").as("c"), lit(null).cast("long").as("wm"),
          lit(0L).as("cum_c"), budget.as("num"), col("w_total").as("den")))
    // a candidate is valid iff its own boundary caps (vacuous for the
    // no-caps row) and NO later source caps at its level
    val selfOk = col("source").isNull ||
      (expr("CAST(c AS DECIMAL(38,0)) * den") <=
        expr("CAST(num AS DECIMAL(38,0)) * wm"))
    val afterCand = col("source").isNull ||
      (expr("CAST(c AS DECIMAL(38,0)) * wm_j") <
        expr("CAST(c_j AS DECIMAL(38,0)) * wm")) ||
      (expr("CAST(c AS DECIMAL(38,0)) * wm_j") ===
        expr("CAST(c_j AS DECIMAL(38,0)) * wm") && col("src_j") > col("source"))
    val violates = afterCand &&
      (expr("CAST(c_j AS DECIMAL(38,0)) * den") <=
        expr("CAST(num AS DECIMAL(38,0)) * wm_j"))
    val chosen = cands.where(col("den") > 0 && col("num") >= 0 && selfOk)
      .crossJoin(probe)
      .groupBy(col("source"), col("cum_c"), col("num"), col("den"))
      .agg(sum(when(violates, 1L).otherwise(0L)).as("n_viol"))
      .where(col("n_viol") === 0)
      // unique by the math; min-prefix keeps the pick deterministic, and
      // the struct-min agg yields exactly one row. B = total DIV 2 over
      // sources with c > 0 is always below the total, so a valid
      // candidate exists and no source is capped by the budget alone
      .agg(min(struct(col("cum_c"), col("num"), col("den"))).as("s"))
      .select(coalesce(col("s.num"), lit(0L)).as("num"),
        coalesce(col("s.den"), lit(1L)).as("den"))
    w.crossJoin(broadcast(chosen))
      .select(col("source"), col("c").as("n_tokens"), col("wm").as("weight_micro"),
        when(expr("CAST(c AS DECIMAL(38,0)) * den") <=
            expr("CAST(num AS DECIMAL(38,0)) * wm"), col("c"))
          .otherwise(expr(
            "CAST((CAST(num AS DECIMAL(38,0)) * wm) DIV den AS BIGINT)"))
          .as("alloc_tokens"),
        (expr("CAST(c AS DECIMAL(38,0)) * den") <=
          expr("CAST(num AS DECIMAL(38,0)) * wm")).as("capped"))
      .select(col("source"), col("n_tokens"), col("weight_micro"),
        col("alloc_tokens"), col("capped"),
        expr("(2 * alloc_tokens * 10000 + n_tokens) DIV (2 * n_tokens)")
          .as("fill_bp"))
  }

  // ---- q211/q212: model-based quality filter (batch perceptron) ----------

  /** Training rounds for the q211/q212 linear filter. Fixed (not a conf):
    * the oracle unrolls exactly this many CTE pairs, and batch perceptron
    * error stops improving on the fixture well inside this horizon. */
  private[graft] val perceptronRounds = 6

  /** Feature width: the corpus top-K vocabulary (q133's cut — ties broken
    * count-desc-then-token so the selection is a total order). */
  private[graft] val clfVocabK = 16

  /** Batch-perceptron trainer over (doc_id, y ∈ {+1,−1}, toks) rows:
    * features are exact integer counts of the corpus top-[[clfVocabK]]
    * tokens plus a constant bias slot, and each round adds Σ y·x over the
    * currently misclassified docs (y·(w·x) ≤ 0) to the weight vector — the
    * classic batch update, commutative integer sums only, so the result is
    * row-order-independent and bit-exact across engines.
    *
    * Shape (q71's driver-loop posture): rounds are inherently sequential,
    * so each is ONE narrow pass over the persisted feature frame — the
    * margin is a per-row `long_vec_dot` against the current weights
    * INLINED as a literal (the bounded-collect class: one (K+1)-long row
    * per round, exactly q71's one-row-per-merge-step loop), and the update
    * is a single `long_vec_sum` aggregate collapsing map-side to K+1
    * longs per partition. At 100 TB: R linear passes, a K+1-long
    * driver round-trip per round, nothing else. The literal-weights form
    * replaced a lazy per-round broadcast-join chain: measured at sf0.1 the
    * chain cost 15.1 s unpersisted (each round's 1-row frame is referenced
    * twice downstream → 2^R re-evaluations) and 3.5 s with per-round
    * persists (2 jobs/round of fixed overhead); this form runs the same
    * passes in R+1 jobs and leaves NOTHING pinned — no cache contract.
    * Overflow headroom: |x| ≤ doc token count and |w| grows by at most
    * Σ|x| per round, so products stay far inside int64 for any corpus
    * readable by one engine.
    *
    * Returns (vocab in rank order, w of length |vocab|+1, w(0) = bias;
    * |vocab| < K on tiny corpora). PRECONDITION (q126's contract): `docs`
    * must be persisted by the caller — the vocab pass and every round
    * re-read it. */
  private[graft] def perceptronFromDocs(docs: DataFrame)
      : (Seq[String], Seq[Long]) = {
    require(docs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "perceptronFromDocs requires a persisted docs frame (each training " +
        "round re-reads it; unpersisted input would re-tokenize R times)")
    // top-K vocab; the K-row collect is bounded by construction and the
    // driver re-sort pins the count-desc-then-token total order (q133's
    // cut) independent of collect's partition arrival order
    val vocab: Seq[String] = docs.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(clfVocabK)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, n) => (-n, t) }.map(_._1).toSeq
    // feature extraction = ONE hashed pass per row (native vocab_counts;
    // the HOF form rescanned toks once per needle, interpreted — measured
    // ~890 us/doc at the 5M-doc rung before the swap)
    val xq = concat(array(lit(1L)),
      graft.functions.GraftFunctions.vocabCounts(col("toks"), vocab))
    (vocab, perceptronRun(docs.select(col("y"), xq.as("xq")), vocab.size + 1))
  }

  /** The batch-perceptron round loop over a prepared (y, xq) point frame —
    * the feature-map-agnostic core shared by the exact-vocab
    * ([[perceptronFromDocs]]) and hashed-feature
    * ([[hashedPerceptronFromDocs]]) trainers. Persists the point frame
    * for the R passes and leaves nothing pinned. */
  private def perceptronRun(points: DataFrame, width: Int): Seq[Long] = {
    val pts = points
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = new Array[Long](width)
    for (_ <- 1 to perceptronRounds) {
      // Σ y·x over misclassified docs; long_vec_sum yields NULL when the
      // round has none (converged) — then w stays as-is
      val d = pts.filter(col("y") * graft.functions.GraftFunctions.longVecDot(
          col("xq"), typedLit(w.toSeq)) <= 0)
        .agg(graft.functions.GraftFunctions.longVecSum(
          expr("transform(xq, v -> v * y)")).as("d"))
        .head()
      if (!d.isNullAt(0)) {
        val delta = d.getSeq[Long](0)
        for (j <- w.indices) w(j) += delta(j)
      }
    }
    pts.unpersist()
    w.toSeq
  }

  /** Feature-hash bucket count for the q217 open-vocabulary variant.
    * 32 ≈ 2×(K+bias) of the exact model — comparable capacity, zero
    * vocabulary dependence. */
  private[graft] val clfHashBuckets = 32

  /** The OPEN-VOCABULARY twin of [[perceptronFromDocs]]: features are
    * md5-bucket counts ([[graft.functions.HashedTokenCounts]], q183's
    * hash) instead of exact top-K vocab counts — NO corpus vocabulary
    * pass, NO driver vocab round-trip, and the feature map is a constant
    * independent of the training corpus (the property that matters when
    * the corpus grows between nightly trainings: the exact model's top-K
    * cut can drift across increments, silently re-indexing features; the
    * hash cannot). Scale shape strictly dominates the exact model's:
    * R linear passes over the persisted points and ONE (B+1)-long driver
    * round-trip per round — the vocab pass (a corpus-wide wordcount
    * shuffle) disappears entirely. The price is hash-collision noise,
    * which q217 prices against q212 on the same report schema. */
  private[graft] def hashedPerceptronFromDocs(docs: DataFrame): Seq[Long] = {
    require(docs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "hashedPerceptronFromDocs requires a persisted docs frame (each " +
        "training round re-reads it; unpersisted input would re-tokenize R times)")
    val xq = concat(array(lit(1L)), graft.functions.GraftFunctions
      .hashedTokenCounts(col("toks"), clfHashBuckets))
    perceptronRun(docs.select(col("y"), xq.as("xq")), clfHashBuckets + 1)
  }

  /** Label + token frame for the fixture's filter target: the pipeline's
    * target language ('en', the corpus majority) is the positive class —
    * the CCNet/fastText posture of "keep what looks like the curated
    * target distribution", trained here from the lang column as weak
    * supervision. */
  private def clfDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
        TA.tokens(col("text")).as("toks"))

  /** q211: model-based quality-filter TRAINING — the linear classifier
    * every published web-corpus pipeline runs before pretraining (CCNet's
    * fastText filter, GPT-3's LR-over-hashed-features WebText filter),
    * trained IN-ENGINE as a batch perceptron on exact integer token-count
    * features (see [[perceptronFromDocs]] for the update rule, the scale
    * shape, and the measured lazy-chain rejection). Output: the trained
    * weight table, one row per feature (rank 0 = '<bias>', ranks 1..K =
    * the vocab tokens) — integer weights, bit-exact vs the oracle's
    * unrolled-round replay. Eager by design (q71's class): training runs
    * at call time; the returned frame is the driver-built weight table
    * and nothing stays pinned.
    *
    * Fixture signal, measured (sf0.01, 500 docs, 31-token vocabulary):
    * the lang classes differ only in token-mixture proportions, so the
    * linear ceiling is low — full-vocab Naive Bayes reaches 61.6% train
    * accuracy; this model lands at 58.8% vs the 56.4% majority baseline,
    * with the en-heavy tokens (order/table/hash/window) taking the large
    * positive weights. Damped steps (w += Σy·x ÷ round) and K=31 were
    * both tested and land in the same 56–60% band — the ceiling is the
    * fixture's, not the optimizer's, so the simple undamped batch rule
    * stays (it is also the variant whose oracle replay is cheapest). */
  def q211PerceptronTrain(spark: SparkSession, dir: String): DataFrame = {
    val docs = clfDocs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (vocab, w) = perceptronFromDocs(docs)
    docs.unpersist()
    import spark.implicits._
    ("<bias>" +: vocab).zip(w).zipWithIndex
      .map { case ((f, wj), j) => (j.toLong, f, wj) }
      .toDF("feat_rank", "feature", "weight")
  }

  /** q212: the trained filter APPLIED — per-lang classification report
    * (predicted-target counts, accuracy in the suite's half-up basis
    * points, exact integer margin mass). This is the operator a corpus
    * intake actually runs: one narrow scoring pass (features + dot against
    * the literal weights, no shuffle) followed by a 5-row report agg; at
    * 100 TB the scoring pass is the whole cost and it is embarrassingly
    * parallel. Prediction convention: margin > 0 is the target class
    * (ties negative, matching training's y·m ≤ 0 rule). margin_sum is
    * reported as the exact integer total — a MEAN would need negative
    * floor division, where Spark's DIV (truncate) and DuckDB's // (floor)
    * disagree. */
  def q212ClassifierReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = clfDocs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (vocab, w) = perceptronFromDocs(docs)
    docs.unpersist() // scoring below is one narrow pass; lazy re-tokenize
    val xq = concat(array(lit(1L)),
      graft.functions.GraftFunctions.vocabCounts(col("toks"), vocab))
    clfDocs(spark, dir)
      .select(col("lang"), col("y"),
        graft.functions.GraftFunctions.longVecDot(xq, typedLit(w))
          .as("margin"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("margin") > 0, 1L).otherwise(0L)).as("n_pred_target"),
        sum(when((col("margin") > 0) === (col("y") === 1L), 1L).otherwise(0L))
          .as("n_correct"),
        sum(col("margin")).as("margin_sum"))
      .select(col("lang"), col("n_docs"), col("n_pred_target"), col("n_correct"),
        expr("(2 * n_correct * 10000 + n_docs) DIV (2 * n_docs)").as("acc_bp"),
        col("margin_sum"))
  }

  /** q216: the model-based filter IN THE INTAKE FUNNEL — the q212
    * classifier as a [[graft.pipeline.CorpusPipeline.curate]] gate, the
    * production posture (CCNet/RefinedWeb put the classifier in the
    * funnel, not beside it). Train on the persisted label frame (q211's
    * trainer), inline the weights as literals, then run the FULL curation
    * chain — quality gate AND classifier gate in the same narrow scoring
    * pass, exact dedup among the survivors, split assignment — and report
    * the landed corpus per (split, source) with the retained margin mass.
    * Scale shape: training is q211's (R linear passes + a (K+1)-long
    * driver round-trip per round); the gated curation adds ZERO cost over
    * ungated curate — the margin is one more codegen'd expression in the
    * pass that already tokenizes, and Catalyst fuses both gates into the
    * scan filter. */
  def q216ClassifiedIntake(spark: SparkSession, dir: String): DataFrame = {
    val docs = clfDocs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = perceptronFromDocs(docs)
    docs.unpersist()
    graft.pipeline.CorpusPipeline
      .curate(Tables.documents(spark, dir), classifier = Some(model))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("clf_margin")).as("margin_sum"))
  }

  /** q217: the open-vocabulary classifier — q212's report on HASHED
    * features ([[hashedPerceptronFromDocs]]: md5-bucket counts, zero
    * vocabulary dependence) so the two feature maps read side by side on
    * the same schema. The exact model needs a corpus vocabulary pass
    * whose top-K cut can drift as the corpus grows (a nightly re-train
    * silently re-indexes features); the hashed map is a corpus-
    * independent constant — the GPT-3 WebText-filter form — at the price
    * of collision noise. This query IS the measured comparison the
    * keep-or-reject decision reads: same corpus, same trainer, same
    * report columns as q212. */
  def q217HashedClfReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = clfDocs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = hashedPerceptronFromDocs(docs)
    docs.unpersist() // scoring below is one narrow pass; lazy re-tokenize
    val xq = concat(array(lit(1L)), graft.functions.GraftFunctions
      .hashedTokenCounts(col("toks"), clfHashBuckets))
    clfDocs(spark, dir)
      .select(col("lang"), col("y"),
        graft.functions.GraftFunctions.longVecDot(xq, typedLit(w))
          .as("margin"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("margin") > 0, 1L).otherwise(0L)).as("n_pred_target"),
        sum(when((col("margin") > 0) === (col("y") === 1L), 1L).otherwise(0L))
          .as("n_correct"),
        sum(col("margin")).as("margin_sum"))
      .select(col("lang"), col("n_docs"), col("n_pred_target"), col("n_correct"),
        expr("(2 * n_correct * 10000 + n_docs) DIV (2 * n_docs)").as("acc_bp"),
        col("margin_sum"))
  }

  // ---- DuckDB oracle twins ------------------------------------------------

  private val toksSql =
    "list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)"

  /** CorpusPipeline.canonicalKey's replay: md5 of the q66 C4
    * normalization (plain string — the regex backslashes must reach
    * DuckDB literally, so this fragment stays out of s-interpolation). */
  private val normKeySql: String =
    "md5(trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))"

  /** q40's deterministic split rule as SQL over an id column. */
  private def splitCaseSql(c: String) =
    s"""CASE WHEN substr(md5(CAST($c AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
       |     WHEN substr(md5(CAST($c AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** q19's MinHash-LSH candidate pairs — also nested by q94. */
  /** q126's exact set-similarity pairs — also nested by q139. */
  private val prefixJoinSql =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(toks) >= 3
       |    THEN list_transform(generate_series(1, len(toks) - 2),
       |           i -> array_to_string(toks[i:i+2], ' '))
       |    ELSE [] END AS s0 FROM t),
       |d AS (SELECT doc_id, list_distinct(s0) AS s FROM sh WHERE len(s0) > 0),
       |e AS (SELECT doc_id, unnest(s) AS g FROM d),
       |pair AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       |  CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |n AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n FROM d)
       |SELECT doc1, doc2,
       |  ROUND(CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE), 4) AS jacc
       |FROM pair JOIN n n1 ON n1.doc_id = doc1 JOIN n n2 ON n2.doc_id = doc2
       |WHERE inter * 2 >= n1.n + n2.n - inter""".stripMargin

  private val minhashPairsSql =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(toks) >= 3
       |    THEN list_transform(generate_series(1, len(toks) - 2),
       |           i -> array_to_string(toks[i:i+2], ' '))
       |    ELSE [] END AS s FROM t),
       |hp AS (SELECT doc_id, list_transform(s, x ->
       |  [CAST(('0x' || substr(md5(x), 1, 12)) AS BIGINT),
       |   CAST(('0x' || substr(md5(x), 13, 12)) AS BIGINT)]) AS hs FROM sh),
       |sig AS (SELECT doc_id,
       |  list_transform(generate_series(0, 11),
       |    i -> list_min(list_transform(hs, q -> (q[1] + i * q[2]) % 1000000007))) AS g
       |  FROM hp),
       |bands AS (SELECT doc_id, u.b AS band,
       |  md5(g[2 * u.b + 1]::VARCHAR || '|' || g[2 * u.b + 2]::VARCHAR) AS bkey
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS b) u)
       |SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
       |FROM bands a JOIN bands c
       |  ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id""".stripMargin

  private def occSql(m: String) =
    s"((len(text) - len(replace(text, '$m', ''))) // ${m.length})"

  private def scoreSql(markers: Seq[String]) =
    markers.map(occSql).mkString(" + ")

  /** q158's frequency bar: report tokens whose global count exceeds
    * total/k. */
  private val heavyK = 100

  /** q158: sketch-gated heavy hitters — Misra-Gries summaries per
    * partition, exact recount of the surviving candidates only. The MG
    * guarantee makes the final answer EXACT, not approximate: any token
    * with global count > n/k has count > n_p/k in at least one partition
    * (pigeonhole over the partition sizes), and an MG summary with k
    * counters retains every token with partition count > n_p/(k+1) — a
    * strict superset of that bar. So candidates ⊇ true heavy hitters,
    * and the exact recount (a semi-join against <= k*P broadcast
    * candidates) discards false positives. At 100 TB the full
    * token-frequency shuffle never happens — only the bounded candidate
    * set is counted; this is the one mapPartitions in the query surface,
    * and it exists precisely because the sketch state is imperative. */
  def q158HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(TA.tokens(col("text"))).as("token"))
    val cands = graft.ops.Sketches.misraGriesCandidates(toks, "token", heavyK)
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(cands), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * heavyK > col("n_total"))
      .select(col("token"), col("cnt"), col("n_total"))
  }

  /** q159: vocabulary-growth (Heaps' law) audit — how many NEW token
    * types each tenth of the corpus contributes, and the cumulative
    * vocabulary, scanning docs in doc_id order. Shape: one agg for each
    * token's first-occurrence doc (min doc_id — order-insensitive), a
    * pure-function decile from (doc_id, corpus size) — no global sort,
    * no single-partition window — and a 10x10 triangle join over the
    * 10-row decile frame for the running total. Corpus-size dependence
    * rides a 1-row broadcast. */
  def q159VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val toks = docs
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("token"))
    val withDec = toks.crossJoin(broadcast(nDocs))
      .withColumn("decile", expr("CAST(doc_id * 10 DIV n_docs AS INT)"))
    val occ = withDec.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_tokens"))
    val firsts = withDec.groupBy(col("token"))
      .agg(min(col("decile")).as("first_decile"))
      .groupBy(col("first_decile")).agg(count(lit(1)).as("new_types"))
    val base = occ.join(firsts, col("decile") === col("first_decile"), "left")
      .select(col("decile"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    base.alias("a")
      .join(base.alias("b"), col("b.decile") <= col("a.decile"))
      .groupBy(col("a.decile").as("decile"))
      .agg(first(col("a.n_tokens")).as("n_tokens"),
        first(col("a.new_types")).as("new_types"),
        sum(col("b.new_types")).as("cum_vocab"))
  }

  /** q160: preference-pair construction (the RLHF/DPO data shape) — per
    * (lang, source) group, pair the highest-scoring document against the
    * lowest-scoring one under a deterministic quality score (lexical
    * diversity in basis points, the repo's integer half-up idiom). Both
    * extremes come from tiny per-group aggregates re-joined by broadcast
    * — no window, no per-group sort; ties resolve to the smallest doc_id
    * on both sides, and groups without a STRICT preference (max == min
    * score) yield no pair, so every emitted row is a usable training
    * example. At 100 TB: two grouped aggs over scores (bytes per group)
    * plus two broadcast joins — documents shuffle once for the score
    * agg, text never moves. */
  def q160PreferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        TA.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("source"),
        TA.tokenCount(col("toks")).as("n"),
        TA.distinctTokenCount(col("toks")).as("d"))
      .filter(col("n") > 0)
      .withColumn("score", expr("(2 * d * 10000 + n) DIV (2 * n)"))
      .select("doc_id", "lang", "source", "score")
    val ext = s.groupBy(col("lang"), col("source"))
      .agg(max(col("score")).as("chosen_score"),
        min(col("score")).as("rejected_score"))
      .filter(col("chosen_score") > col("rejected_score"))
    val chosen = s.join(broadcast(ext.select(col("lang"), col("source"),
        col("chosen_score"))),
        Seq("lang", "source"))
      .filter(col("score") === col("chosen_score"))
      .groupBy(col("lang"), col("source"), col("chosen_score"))
      .agg(min(col("doc_id")).as("chosen_id"))
    val rejected = s.join(broadcast(ext.select(col("lang"), col("source"),
        col("rejected_score"))),
        Seq("lang", "source"))
      .filter(col("score") === col("rejected_score"))
      .groupBy(col("lang"), col("source"), col("rejected_score"))
      .agg(min(col("doc_id")).as("rejected_id"))
    chosen.join(rejected, Seq("lang", "source"))
      .select(col("lang"), col("source"), col("chosen_id"),
        col("chosen_score"), col("rejected_id"), col("rejected_score"))
  }

  /** q176: source-similarity matrix — exact total-variation distance
    * between every pair of sources' token distributions (KL drift q118
    * monitors ONE slice against the rest; TV gives the full symmetric
    * matrix that guides source-level mixing and dedup policy). Exactness
    * trick: TV over the UNION vocabulary decomposes as
    * common |p_a − p_b| + (mass of a-only tokens) + (mass of b-only
    * tokens), and the last two equal 1 − (common mass) — so one INNER
    * join per pair suffices, no outer join over the union. Everything is
    * the integer numerator over the common denominator tot_a·tot_b
    * (|cnt_a·tot_b − cnt_b·tot_a| sums), one double division at output.
    * The pair list comes from tot×tot (|sources|² tiny rows), NOT from
    * the token inner join — so a pair of sources with DISJOINT
    * vocabularies still emits its row (num_common/ca/cb coalesce to 0,
    * tv = 1 exactly), completing the full C(n,2) matrix the docstring
    * promises. Shape: one (source, token) agg, a token-keyed pair join
    * (sources bounded, so fan-out per token is |sources|), a broadcast
    * left join onto the tiny pair frame, 190 output rows. */
  def q176SourceTvDistance(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(spark, dir)
      .select(col("source"), explode(TA.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val tot = tk.groupBy(col("source")).agg(sum(col("cnt")).as("tot"))
    val sided = tk.join(broadcast(tot), Seq("source"))
    val a = sided.select(col("source").as("source_a"), col("token"),
      col("cnt").as("cnt_a"), col("tot").as("tot_a"))
    val b = sided.select(col("source").as("source_b"), col("token"),
      col("cnt").as("cnt_b"), col("tot").as("tot_b"))
    val common = a.join(b, Seq("token"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(abs(col("cnt_a") * col("tot_b") - col("cnt_b") * col("tot_a")))
        .as("num_common"),
        sum(col("cnt_a")).as("ca"), sum(col("cnt_b")).as("cb"))
    val pairs = tot.select(col("source").as("source_a"), col("tot").as("tot_a"))
      .crossJoin(tot.select(col("source").as("source_b"),
        col("tot").as("tot_b")))
      .filter(col("source_a") < col("source_b"))
    pairs.join(broadcast(common), Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        (coalesce(col("num_common"), lit(0L)) +
          (col("tot_a") - coalesce(col("ca"), lit(0L))) * col("tot_b") +
          (col("tot_b") - coalesce(col("cb"), lit(0L))) * col("tot_a"))
          .as("tv_num"),
        (lit(2) * col("tot_a") * col("tot_b")).as("tv_den"))
      .withColumn("tv",
        col("tv_num").cast("double") / col("tv_den").cast("double"))
  }

  /** q177: PII redaction — the scrub pass every published web-corpus
    * pipeline runs before training (emails, phone numbers, IP addresses
    * replaced by typed placeholder tokens, per-class hit counts kept for
    * the curation report). The fixture corpus is PII-free by construction
    * (pure word soup — verified no '@'/digit spans), so the query first
    * APPENDS a deterministic contact tail derived from doc_id — one
    * email, one NNN-NNN-NNNN phone, one dotted-quad IP — and then redacts
    * it; the counts prove every pattern class fired on every row, and the
    * oracle builds the identical tail, so the check exercises the regex
    * semantics on both engines rather than a vacuous no-op. Patterns stay
    * inside the Java-regex ∩ RE2 common dialect (char classes, bounded
    * repeats, `\b`) so Spark and DuckDB agree byte-for-byte. Counts are
    * measured on the pre-redaction text independently per class (the
    * classes cannot overlap: emails carry '@', phones '-'-separated,
    * IPs '.'-separated digit runs). Scale shape: one narrow projection,
    * no shuffle at all — redaction is embarrassingly parallel, the 100 TB
    * plan is scan→project→write. */
  def q177PiiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
    val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val tailed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" at 10."), (col("doc_id") % 256).cast("string"), lit("."),
          expr("(doc_id div 256) % 256").cast("string"), lit(".1")
        ).as("text"))
    tailed.select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"),
        ipRe, "<IP>").as("redacted"),
      size(expr(s"regexp_extract_all(text, '${emailRe.replace("\\", "\\\\")}', 0)"))
        .cast("long").as("n_emails"),
      size(expr(s"regexp_extract_all(text, '${phoneRe.replace("\\", "\\\\")}', 0)"))
        .cast("long").as("n_phones"),
      size(expr(s"regexp_extract_all(text, '${ipRe.replace("\\", "\\\\")}', 0)"))
        .cast("long").as("n_ips"))
  }

  /** q211/q212's training replay: the identical integer recurrence
    * unrolled as one (margin, weight) CTE pair per round — w0 is all
    * zeros, round k adds Σ y·x over docs with y·margin ≤ 0 (LEFT JOIN +
    * COALESCE keeps untouched weights when a round converges). Features
    * are long-format (doc_id, j, x) with j=0 the bias; the sparse sum
    * equals Spark's dense K+1 dot because absent features are zero. */
  private lazy val perceptronStepCtes: String =
    (1 to perceptronRounds).map { k =>
      s"""m$k AS (SELECT f.doc_id, SUM(f.x * w.w) AS margin
         |  FROM f JOIN w${k - 1} w USING (j) GROUP BY 1),
         |w$k AS (SELECT w.j, w.w + COALESCE(d.d, 0) AS w FROM w${k - 1} w
         |  LEFT JOIN (SELECT f.j, SUM(yy.y * f.x) AS d
         |    FROM f JOIN yy USING (doc_id) JOIN m$k m ON m.doc_id = f.doc_id
         |    WHERE yy.y * m.margin <= 0 GROUP BY 1) d USING (j))""".stripMargin
    }.mkString(",\n")

  private lazy val perceptronCtes: String =
    s"""t AS (SELECT doc_id, lang,
       |  CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y, $toksSql AS toks
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
       |v AS (SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS j
       |  FROM (SELECT token, COUNT(*) AS n FROM tok GROUP BY 1
       |        ORDER BY n DESC, token LIMIT $clfVocabK)),
       |f AS (SELECT doc_id, CAST(0 AS BIGINT) AS j, CAST(1 AS BIGINT) AS x
       |    FROM t
       |  UNION ALL
       |  SELECT tok.doc_id, v.j, CAST(COUNT(*) AS BIGINT) AS x
       |  FROM tok JOIN v USING (token) GROUP BY 1, 2),
       |yy AS (SELECT doc_id, y FROM t),
       |w0 AS (SELECT j, CAST(0 AS BIGINT) AS w FROM
       |  (SELECT CAST(0 AS BIGINT) AS j UNION ALL SELECT j FROM v))""".stripMargin +
      ",\n" + perceptronStepCtes

  /** q217's training replay: the SAME unrolled round CTEs over a hashed
    * feature table — j = 1 + (first md5 byte % B), bias j = 0; no vocab
    * CTE at all (the open-vocabulary point). */
  private lazy val hashedPerceptronCtes: String =
    s"""t AS (SELECT doc_id, lang,
       |  CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y, $toksSql AS toks
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
       |f AS (SELECT doc_id, CAST(0 AS BIGINT) AS j, CAST(1 AS BIGINT) AS x
       |    FROM t
       |  UNION ALL
       |  SELECT doc_id,
       |    1 + (CAST(('0x' || substr(md5(token), 1, 2)) AS BIGINT)
       |         % $clfHashBuckets) AS j,
       |    CAST(COUNT(*) AS BIGINT) AS x
       |  FROM tok GROUP BY 1, 2),
       |yy AS (SELECT doc_id, y FROM t),
       |w0 AS (SELECT CAST(unnest(generate_series(0, $clfHashBuckets)) AS BIGINT)
       |  AS j, CAST(0 AS BIGINT) AS w)""".stripMargin +
      ",\n" + perceptronStepCtes

  val oracles: Map[String, String] = Map(
    "q211_perceptron_train" ->
      s"""WITH $perceptronCtes
         |SELECT CAST(w.j AS BIGINT) AS feat_rank,
         |  COALESCE(v.token, '<bias>') AS feature, CAST(w.w AS BIGINT) AS weight
         |FROM w$perceptronRounds w LEFT JOIN v USING (j)""".stripMargin,

    "q212_classifier_report" ->
      s"""WITH $perceptronCtes,
         |lm AS (SELECT f.doc_id, SUM(f.x * w.w) AS margin
         |  FROM f JOIN w$perceptronRounds w USING (j) GROUP BY 1),
         |s AS (SELECT t.lang, t.y, lm.margin FROM t
         |  JOIN lm ON lm.doc_id = t.doc_id)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pred_target,
         |  CAST(SUM(CASE WHEN (margin > 0) = (y = 1) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  CAST((2 * SUM(CASE WHEN (margin > 0) = (y = 1) THEN 1 ELSE 0 END)
         |      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS acc_bp,
         |  CAST(SUM(margin) AS BIGINT) AS margin_sum
         |FROM s GROUP BY 1""".stripMargin,

    // the q211 training replay feeding the q50-class curation chain:
    // quality gate AND classifier gate before dedup, curate's canonical
    // key (md5 of the q66 normalization), q40's split rule
    "q216_classified_intake" ->
      s"""WITH $perceptronCtes,
         |lm AS (SELECT f.doc_id, CAST(SUM(f.x * w.w) AS BIGINT) AS margin
         |  FROM f JOIN w$perceptronRounds w USING (j) GROUP BY 1),
         |d0 AS (SELECT doc_id, text, source, n_chars, $toksSql AS toks
         |  FROM documents),
         |m0 AS (SELECT doc_id, text, source, n_chars,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |  CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop
         |  FROM d0),
         |sc AS (SELECT m0.doc_id, m0.source, m0.n_chars, lm.margin,
         |  ROUND(0.3::DOUBLE * (CAST(n_distinct AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0))
         |    + 0.3::DOUBLE * (1.0::DOUBLE - CAST(n_stop AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0))
         |    + 0.4::DOUBLE * LEAST(1.0::DOUBLE, CAST(n_tokens AS DOUBLE) / 100.0::DOUBLE), 4) AS quality_score,
         |  $normKeySql AS ck
         |  FROM m0 JOIN lm ON lm.doc_id = m0.doc_id),
         |g AS (SELECT * FROM sc WHERE quality_score >= 0.5 AND margin > 0),
         |keepers AS (SELECT ck, MIN(doc_id) AS doc_id FROM g GROUP BY 1),
         |ded AS (SELECT * FROM g WHERE doc_id IN (SELECT doc_id FROM keepers)),
         |fin AS (SELECT doc_id, source, n_chars, margin,
         |  ${splitCaseSql("doc_id")} AS split FROM ded)
         |SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  CAST(SUM(margin) AS BIGINT) AS margin_sum
         |FROM fin GROUP BY 1, 2""".stripMargin,

    // same round CTEs over the hashed feature table; report identical to
    // q212's so the two feature maps compare row-for-row
    "q217_hashed_clf_report" ->
      s"""WITH $hashedPerceptronCtes,
         |lm AS (SELECT f.doc_id, SUM(f.x * w.w) AS margin
         |  FROM f JOIN w$perceptronRounds w USING (j) GROUP BY 1),
         |s AS (SELECT t.lang, t.y, lm.margin FROM t
         |  JOIN lm ON lm.doc_id = t.doc_id)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pred_target,
         |  CAST(SUM(CASE WHEN (margin > 0) = (y = 1) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  CAST((2 * SUM(CASE WHEN (margin > 0) = (y = 1) THEN 1 ELSE 0 END)
         |      * 10000 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS acc_bp,
         |  CAST(SUM(margin) AS BIGINT) AS margin_sum
         |FROM s GROUP BY 1""".stripMargin,

    // same 256-bucket md5 feature hash, Laplace(+1, +256) models, and the
    // one fixed double shape per bucket log-ratio (quantized per BUCKET,
    // then the per-doc weight is an exact integer dot product)
    "q183_dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |e AS (SELECT doc_id, source,
         |  CAST(('0x' || substr(md5(tok), 1, 2)) AS BIGINT) AS b
         |  FROM (SELECT doc_id, source, unnest(toks) AS tok FROM t)),
         |db AS (SELECT doc_id, source, b, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM e GROUP BY 1, 2, 3),
         |m AS (SELECT b,
         |  CAST(SUM(CASE WHEN source = 'src0' THEN c ELSE 0 END) AS BIGINT) AS ct,
         |  CAST(SUM(CASE WHEN source <> 'src0' THEN c ELSE 0 END) AS BIGINT) AS cr
         |  FROM db GROUP BY 1),
         |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
         |  CAST(SUM(cr) AS BIGINT) AS nr FROM m),
         |lam AS (SELECT b, CAST(FLOOR(1000000.0 * ln(
         |    (CAST(ct + 1 AS DOUBLE) * CAST(nr + 256 AS DOUBLE))
         |    / (CAST(cr + 1 AS DOUBLE) * CAST(nt + 256 AS DOUBLE)))) AS BIGINT)
         |  AS lam_micro FROM m CROSS JOIN tot)
         |SELECT db.doc_id, db.source,
         |  CAST(SUM(db.c) AS BIGINT) AS n_tokens,
         |  CAST(SUM(db.c * lam.lam_micro) AS BIGINT) AS dsir_micro
         |FROM db JOIN lam USING (b) WHERE db.source <> 'src0'
         |GROUP BY 1, 2""".stripMargin,

    // same exclusive prefix sum over doc_id order, same floor-division
    // sequence spans; the single-partition window here is the ORACLE's
    // luxury — the Spark side runs the two-level distributed scan
    "q184_seq_packing" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |f AS (SELECT doc_id, n FROM t WHERE n > 0),
         |c AS (SELECT doc_id, n, CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
         |  FROM f),
         |sp AS (SELECT s, s + n AS e,
         |  unnest(generate_series(s // 512, (s + n - 1) // 512)) AS seq_id
         |  FROM c)
         |SELECT seq_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN s >= seq_id * 512 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_starts,
         |  CAST(SUM(LEAST(e, (seq_id + 1) * 512)
         |    - GREATEST(s, seq_id * 512)) AS BIGINT) AS n_tokens
         |FROM sp GROUP BY 1""".stripMargin,

    // the same single-correctly-rounded-op chain as the Spark plan:
    // long->double casts, one divide, one sqrt, one multiply, floor; then
    // pure integer normalization (// is floor division; all values are
    // non-negative, so it matches Spark's truncating DIV)
    "q186_temperature_mix" ->
      s"""WITH c AS (SELECT source,
         |  CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT MAX(n_tokens) AS c_max,
         |  CAST(SUM(n_tokens) AS BIGINT) AS t_total FROM c),
         |w AS (SELECT source, n_tokens,
         |  CAST(FLOOR(1000000.0 * SQRT(n_tokens::DOUBLE
         |    / NULLIF(c_max, 0)::DOUBLE)) AS BIGINT) AS weight_micro
         |  FROM c CROSS JOIN tot),
         |d AS (SELECT CAST(SUM(weight_micro) AS BIGINT) AS w_sum FROM w)
         |SELECT source, n_tokens, weight_micro,
         |  (weight_micro * 1000000) // w_sum AS p_micro,
         |  CAST((((weight_micro * 1000000) // w_sum)::HUGEINT * t_total)
         |    // n_tokens AS BIGINT) AS epochs_micro
         |FROM w CROSS JOIN d CROSS JOIN tot""".stripMargin,

    // exact-integer twin: HUGEINT collision sum (c^2 overflows BIGINT at
    // corpus scale), floor integer division, NULLIF pair-count guard
    "q187_gram_collision" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |g AS (SELECT source, unnest(CASE WHEN len(toks) >= 4
         |    THEN list_transform(generate_series(1, len(toks) - 3),
         |           i -> array_to_string(toks[i:i+3], ' '))
         |    ELSE [] END) AS g FROM t),
         |cg AS (SELECT source, g, COUNT(*) AS c FROM g GROUP BY 1, 2),
         |a AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_grams,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  SUM(c::HUGEINT * (c - 1)) AS coll FROM cg GROUP BY 1)
         |SELECT source, n_grams, n_distinct,
         |  CAST((1000000::HUGEINT * coll)
         |    // NULLIF(n_grams::HUGEINT * (n_grams - 1), 0) AS BIGINT)
         |    AS collision_ppm
         |FROM a""".stripMargin,

    // q19's banding CTEs with the cross-slice (train x eval) filter, exact
    // shingle-Jaccard verify, per-train-doc rollup; the argmax eval doc is
    // a correlated MIN at the (identically rounded) max jacc
    "q189_fuzzy_decontam" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(generate_series(1, len(toks) - 2),
         |           i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END AS s FROM t),
         |hp AS (SELECT doc_id, list_transform(s, x ->
         |  [CAST(('0x' || substr(md5(x), 1, 12)) AS BIGINT),
         |   CAST(('0x' || substr(md5(x), 13, 12)) AS BIGINT)]) AS hs FROM sh),
         |sig AS (SELECT doc_id,
         |  list_transform(generate_series(0, 11),
         |    i -> list_min(list_transform(hs, q -> (q[1] + i * q[2]) % 1000000007))) AS g
         |  FROM hp),
         |bands AS (SELECT doc_id, u.b AS band,
         |  md5(g[2 * u.b + 1]::VARCHAR || '|' || g[2 * u.b + 2]::VARCHAR) AS bkey
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS b) u),
         |cand AS (SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
         |  FROM bands a JOIN bands c ON a.band = c.band AND a.bkey = c.bkey
         |  WHERE a.doc_id % 50 <> 0 AND c.doc_id % 50 = 0),
         |d AS (SELECT doc_id, list_distinct(s) AS ds FROM sh WHERE len(s) > 0),
         |e AS (SELECT doc_id, unnest(ds) AS g FROM d),
         |iv AS (SELECT p.doc1, p.doc2, CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM cand p JOIN e e1 ON e1.doc_id = p.doc1
         |  JOIN e e2 ON e2.doc_id = p.doc2 AND e2.g = e1.g
         |  GROUP BY 1, 2),
         |n AS (SELECT doc_id, CAST(len(ds) AS BIGINT) AS n FROM d),
         |v AS (SELECT doc1, doc2,
         |  ROUND(CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE), 4) AS jacc
         |  FROM iv JOIN n n1 ON n1.doc_id = doc1 JOIN n n2 ON n2.doc_id = doc2
         |  WHERE ROUND(CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE), 4) >= 0.3),
         |gmax AS (SELECT doc1, CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
         |  MAX(jacc) AS max_jacc FROM v GROUP BY 1)
         |SELECT g.doc1 AS train_id, g.n_eval_hits, g.max_jacc,
         |  (SELECT MIN(v2.doc2) FROM v v2
         |   WHERE v2.doc1 = g.doc1 AND v2.jacc = g.max_jacc) AS top_eval_id
         |FROM gmax g""".stripMargin,

    "q190_boilerplate_prefix" ->
      s"""WITH t AS (SELECT source, doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT source, doc_id, array_to_string(toks[1:8], ' ') AS prefix
         |  FROM t WHERE len(toks) >= 8),
         |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source_docs
         |  FROM documents GROUP BY 1),
         |a AS (SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MIN(doc_id) AS first_doc_id FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT a.source, a.prefix, a.n_docs, a.first_doc_id,
         |  (2 * a.n_docs * 10000 + t2.n_source_docs)
         |    // (2 * t2.n_source_docs) AS share_bp
         |FROM a JOIN tot t2 USING (source)""".stripMargin,

    // floor-quantized ln terms (the q89 idiom) so the Hill sum is exact
    // integer; NULLIF guards the all-equal tail
    "q191_zipf_tail" ->
      s"""WITH tk AS (SELECT source, unnest($toksSql) AS token FROM documents),
         |c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM tk GROUP BY 1, 2),
         |r AS (SELECT source, cnt,
         |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, token ASC) AS rk
         |  FROM c),
         |ref AS (SELECT source, cnt AS c_ref FROM r WHERE rk = ${zipfTailK + 1}),
         |tl AS (SELECT r.source,
         |  CAST(FLOOR(ln(CAST(r.cnt AS DOUBLE) / CAST(ref.c_ref AS DOUBLE)) * 1e6) AS BIGINT) AS t
         |  FROM r JOIN ref USING (source) WHERE r.rk <= $zipfTailK)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS k_used,
         |  CAST(SUM(t) AS BIGINT) AS sum_ln_micro,
         |  ROUND(CAST(COUNT(*) AS DOUBLE) * 1e6
         |    / CAST(NULLIF(SUM(t), 0) AS DOUBLE), 6) AS alpha_hill
         |FROM tl GROUP BY source""".stripMargin,

    "q192_ngram_diversity" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |c1 AS (SELECT source, g, COUNT(*) AS c FROM
         |  (SELECT source, unnest(toks) AS g FROM t) GROUP BY 1, 2),
         |a1 AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_1gram,
         |  CAST(COUNT(*) AS BIGINT) AS d_1gram FROM c1 GROUP BY 1),
         |c2 AS (SELECT source, g, COUNT(*) AS c FROM
         |  (SELECT source, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(generate_series(1, len(toks) - 1),
         |           i -> array_to_string(toks[i:i+1], ' '))
         |    ELSE [] END) AS g FROM t) GROUP BY 1, 2),
         |a2 AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_2gram,
         |  CAST(COUNT(*) AS BIGINT) AS d_2gram FROM c2 GROUP BY 1),
         |c3 AS (SELECT source, g, COUNT(*) AS c FROM
         |  (SELECT source, unnest(CASE WHEN len(toks) >= 3
         |    THEN list_transform(generate_series(1, len(toks) - 2),
         |           i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END) AS g FROM t) GROUP BY 1, 2),
         |a3 AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_3gram,
         |  CAST(COUNT(*) AS BIGINT) AS d_3gram FROM c3 GROUP BY 1)
         |SELECT a1.source, a1.n_1gram, a1.d_1gram,
         |  (2 * a1.d_1gram * 10000 + a1.n_1gram) // (2 * a1.n_1gram) AS distinct_1gram_bp,
         |  a2.n_2gram, a2.d_2gram,
         |  (2 * a2.d_2gram * 10000 + a2.n_2gram) // (2 * a2.n_2gram) AS distinct_2gram_bp,
         |  a3.n_3gram, a3.d_3gram,
         |  (2 * a3.d_3gram * 10000 + a3.n_3gram) // (2 * a3.n_3gram) AS distinct_3gram_bp
         |FROM a1 LEFT JOIN a2 USING (source) LEFT JOIN a3 USING (source)""".stripMargin,

    // q27's pre-tokenizer regex for subwords; half-up integer ratios
    "q195_fertility" ->
      s"""WITH d AS (SELECT lang,
         |  CAST(len($toksSql) AS BIGINT) AS w,
         |  CAST(len(regexp_extract_all(text,
         |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS s,
         |  CAST(len(text) AS BIGINT) AS ch
         |  FROM documents),
         |a AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(w) AS BIGINT) AS n_words,
         |  CAST(SUM(s) AS BIGINT) AS n_subwords,
         |  CAST(SUM(ch) AS BIGINT) AS n_chars FROM d GROUP BY 1)
         |SELECT lang, n_docs, n_words, n_subwords,
         |  (2 * n_subwords * 10000 + n_words) // (2 * n_words) AS fertility_bp,
         |  (2 * n_chars * 1000000 + n_subwords) // (2 * n_subwords)
         |    AS chars_per_subword_micro
         |FROM a""".stripMargin,

    // q143's integer bucket ladder; HUGEINT cross products -> one divide +
    // ln, floor-quantized to nano-nats; the (p_a - p_b) numerator stays an
    // exact integer; fixed double shape for the final contribution
    "q196_psi_drift" ->
      s"""WITH d AS (SELECT CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
         |  WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 ELSE 256 END AS bucket,
         |  in_slice FROM (SELECT CAST(len($toksSql) AS BIGINT) AS n,
         |    source = 'src0' AS in_slice FROM documents)),
         |b AS (SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(SUM(CASE WHEN in_slice THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         |  CAST(SUM(CASE WHEN in_slice THEN 0 ELSE 1 END) AS BIGINT) AS c_b
         |  FROM d GROUP BY 1),
         |t AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na,
         |  CAST(SUM(c_b) AS BIGINT) AS nb,
         |  CAST(COUNT(*) AS BIGINT) AS nbins FROM b),
         |e AS (SELECT bucket, c_a, c_b, na, nb, nbins,
         |  (c_a + 1)::HUGEINT * (nb + nbins) AS xnb,
         |  (c_b + 1)::HUGEINT * (na + nbins) AS yna
         |  FROM b CROSS JOIN t),
         |f AS (SELECT bucket, c_a, c_b,
         |  CAST(FLOOR(ln(xnb::DOUBLE / yna::DOUBLE) * 1e9) AS BIGINT)
         |    AS ln_ratio_nano,
         |  (xnb - yna)::DOUBLE AS dnum,
         |  (na + nbins)::DOUBLE * (nb + nbins)::DOUBLE AS den
         |  FROM e)
         |SELECT bucket, c_a AS n_slice, c_b AS n_rest, ln_ratio_nano,
         |  ROUND(dnum * ln_ratio_nano::DOUBLE / den / 1e9, 9) AS psi_contrib
         |FROM f""".stripMargin,

    // q19's candidates + q20's digest-array verify, binned by the
    // EXACT integer division (20*inter) // union; candidate pairs with
    // zero shingle overlap (possible only under a band-hash collision)
    // are dropped identically on both sides (Spark: inter > 0 filter)
    "q197_jacc_calibration" ->
      s"""WITH cand AS ($minhashPairsSql),
         |t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(generate_series(1, len(toks) - 2),
         |           i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END AS s FROM t),
         |d AS (SELECT doc_id, list_distinct(s) AS ds FROM sh WHERE len(s) > 0),
         |e AS (SELECT doc_id, unnest(ds) AS g FROM d),
         |iv AS (SELECT p.doc1, p.doc2, CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM cand p JOIN e e1 ON e1.doc_id = p.doc1
         |  JOIN e e2 ON e2.doc_id = p.doc2 AND e2.g = e1.g
         |  GROUP BY 1, 2),
         |n AS (SELECT doc_id, CAST(len(ds) AS BIGINT) AS n FROM d),
         |bins AS (SELECT (20 * inter) // (n1.n + n2.n - inter) AS bin
         |  FROM iv JOIN n n1 ON n1.doc_id = iv.doc1
         |  JOIN n n2 ON n2.doc_id = iv.doc2)
         |SELECT bin, CAST(bin * 5 AS BIGINT) AS lo_pct,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM bins GROUP BY 1""".stripMargin,

    // q19's banding CTEs rolled to bucket sizes; the pair contribution is
    // HUGEINT (Spark: decimal(38,0)) internally, BIGINT at the output
    "q198_band_occupancy" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(generate_series(1, len(toks) - 2),
         |           i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END AS s FROM t),
         |hp AS (SELECT doc_id, list_transform(s, x ->
         |  [CAST(('0x' || substr(md5(x), 1, 12)) AS BIGINT),
         |   CAST(('0x' || substr(md5(x), 13, 12)) AS BIGINT)]) AS hs FROM sh),
         |sig AS (SELECT doc_id,
         |  list_transform(generate_series(0, 11),
         |    i -> list_min(list_transform(hs, q -> (q[1] + i * q[2]) % 1000000007))) AS g
         |  FROM hp),
         |bands AS (SELECT doc_id, u.b AS band,
         |  md5(g[2 * u.b + 1]::VARCHAR || '|' || g[2 * u.b + 2]::VARCHAR) AS bkey
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS b) u),
         |occ AS (SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS s
         |  FROM bands WHERE bkey IS NOT NULL GROUP BY 1, 2)
         |SELECT s AS bucket_size, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST((s * (s - 1) // 2)::HUGEINT * COUNT(*) AS BIGINT) AS cand_pairs
         |FROM occ GROUP BY s""".stripMargin,

    "q177_pii_redaction" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com or 555-'
        |    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    || ' at 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |    || CAST((doc_id // 256) % 256 AS VARCHAR) || '.1' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
        |    AS redacted,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(text,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips
        |FROM p""".stripMargin,

    "q176_source_tv_distance" ->
      s"""WITH tk AS (SELECT source, t.token, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT source, unnest($toksSql) AS token FROM documents) t
         |  GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot
         |  FROM tk GROUP BY 1),
         |sided AS (SELECT tk.source, token, cnt, tot
         |  FROM tk JOIN tot ON tot.source = tk.source),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(SUM(ABS(a.cnt * b.tot - b.cnt * a.tot)) AS BIGINT)
         |    AS num_common,
         |  CAST(SUM(a.cnt) AS BIGINT) AS ca, CAST(SUM(b.cnt) AS BIGINT) AS cb
         |  FROM sided a JOIN sided b ON a.token = b.token
         |    AND a.source < b.source
         |  GROUP BY 1, 2),
         |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
         |  a.tot AS tot_a, b.tot AS tot_b
         |  FROM tot a JOIN tot b ON a.source < b.source)
         |SELECT source_a, source_b,
         |  COALESCE(num_common, 0) + (tot_a - COALESCE(ca, 0)) * tot_b
         |    + (tot_b - COALESCE(cb, 0)) * tot_a AS tv_num,
         |  2 * tot_a * tot_b AS tv_den,
         |  CAST(COALESCE(num_common, 0) + (tot_a - COALESCE(ca, 0)) * tot_b
         |    + (tot_b - COALESCE(cb, 0)) * tot_a
         |    AS DOUBLE) / CAST(2 * tot_a * tot_b AS DOUBLE) AS tv
         |FROM pairs LEFT JOIN p USING (source_a, source_b)""".stripMargin,

    "q173_dedup_savings" ->
      s"""WITH RECURSIVE $simhashPairsSqlCtes,
         |edges AS (SELECT doc1 AS a, doc2 AS b FROM near
         |  UNION SELECT doc2, doc1 FROM near),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |comp AS (SELECT n.id AS doc_id,
         |  CAST(LEAST(n.id, MIN(r.b)) AS BIGINT) AS component
         |  FROM nodes n JOIN reach r ON r.a = n.id
         |  GROUP BY n.id),
         |per AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS sz,
         |  CAST(SUM(n_chars) AS BIGINT) AS bytes_total,
         |  CAST(SUM(n_chars) - arg_min(n_chars, doc_id) AS BIGINT)
         |    AS bytes_saved
         |  FROM comp JOIN documents USING (doc_id)
         |  GROUP BY component)
         |SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(sz) AS BIGINT) AS n_docs,
         |  CAST(SUM(bytes_total) AS BIGINT) AS bytes_total,
         |  CAST(SUM(bytes_saved) AS BIGINT) AS bytes_saved
         |FROM per GROUP BY sz""".stripMargin,

    "q160_preference_pairs" ->
      s"""WITH s AS (SELECT doc_id, lang, source,
         |  (2 * CAST(len(list_distinct($toksSql)) AS BIGINT) * 10000
         |    + CAST(len($toksSql) AS BIGINT))
         |    // (2 * CAST(len($toksSql) AS BIGINT)) AS score
         |  FROM documents WHERE len($toksSql) > 0),
         |ext AS (SELECT lang, source, MAX(score) AS chosen_score,
         |  MIN(score) AS rejected_score
         |  FROM s GROUP BY 1, 2
         |  HAVING MAX(score) > MIN(score)),
         |c AS (SELECT s.lang, s.source, chosen_score,
         |  MIN(doc_id) AS chosen_id
         |  FROM s JOIN ext ON s.lang = ext.lang AND s.source = ext.source
         |    AND s.score = ext.chosen_score
         |  GROUP BY 1, 2, 3),
         |r AS (SELECT s.lang, s.source, rejected_score,
         |  MIN(doc_id) AS rejected_id
         |  FROM s JOIN ext ON s.lang = ext.lang AND s.source = ext.source
         |    AND s.score = ext.rejected_score
         |  GROUP BY 1, 2, 3)
         |SELECT c.lang, c.source, chosen_id, chosen_score,
         |  rejected_id, rejected_score
         |FROM c JOIN r ON c.lang = r.lang AND c.source = r.source""".stripMargin,

    "q158_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS token FROM documents),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM t),
         |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM t GROUP BY token)
         |SELECT token, cnt, n_total FROM c CROSS JOIN n
         |WHERE cnt * $heavyK > n_total""".stripMargin,

    "q159_vocab_growth" ->
      s"""WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |wd AS (SELECT CAST(doc_id * 10 // n_docs AS INT) AS decile, token
         |  FROM t CROSS JOIN nd),
         |occ AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_tokens
         |  FROM wd GROUP BY decile),
         |fst AS (SELECT MIN(decile) AS first_decile FROM wd GROUP BY token),
         |nw AS (SELECT first_decile, CAST(COUNT(*) AS BIGINT) AS new_types
         |  FROM fst GROUP BY first_decile),
         |base AS (SELECT decile, n_tokens,
         |  COALESCE(new_types, CAST(0 AS BIGINT)) AS new_types
         |  FROM occ LEFT JOIN nw ON first_decile = decile)
         |SELECT a.decile, a.n_tokens, a.new_types,
         |  CAST(SUM(b.new_types) AS BIGINT) AS cum_vocab
         |FROM base a JOIN base b ON b.decile <= a.decile
         |GROUP BY a.decile, a.n_tokens, a.new_types""".stripMargin,

    "q143_padding_waste" ->
      s"""WITH d AS (SELECT CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |b AS (SELECT n, CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
         |  WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 ELSE 256 END AS bucket
         |  FROM d)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS tokens_real,
         |  CAST(bucket * COUNT(*) AS BIGINT) AS tokens_padded,
         |  CAST((2 * (bucket * COUNT(*) - SUM(n)) * 10000 + bucket * COUNT(*))
         |    // (2 * bucket * COUNT(*)) AS DOUBLE) / 1e4 AS waste_share
         |FROM b GROUP BY bucket""".stripMargin,

    "q144_word_dropout" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(toks) AS tok,
         |  generate_subscripts(toks, 1) AS pos FROM t),
         |k AS (SELECT doc_id, pos, tok FROM p
         |  WHERE substr(md5(doc_id || ':' || pos || ':' || tok), 1, 2) >= '1a')
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  md5(string_agg(tok, ' ' ORDER BY pos)) AS aug_md5
         |FROM k GROUP BY 1""".stripMargin,

    "q141_pagerank" ->
      s"""WITH pairs AS ($minhashPairsSql),
         |e AS (SELECT doc1 AS a, doc2 AS b FROM pairs
         |      UNION ALL SELECT doc2, doc1 FROM pairs),
         |d AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT a AS node, CAST(1000000000 AS BIGINT) AS r FROM d),
         |c1 AS (SELECT e.b AS node, CAST(SUM(r0.r // d.deg) AS BIGINT) AS cs
         |  FROM e JOIN r0 ON r0.node = e.a JOIN d ON d.a = e.a GROUP BY 1),
         |r1 AS (SELECT d.a AS node,
         |  CAST(150000000 + (85 * COALESCE(c1.cs, 0)) // 100 AS BIGINT) AS r
         |  FROM d LEFT JOIN c1 ON c1.node = d.a),
         |c2 AS (SELECT e.b AS node, CAST(SUM(r1.r // d.deg) AS BIGINT) AS cs
         |  FROM e JOIN r1 ON r1.node = e.a JOIN d ON d.a = e.a GROUP BY 1),
         |r2 AS (SELECT d.a AS node,
         |  CAST(150000000 + (85 * COALESCE(c2.cs, 0)) // 100 AS BIGINT) AS r
         |  FROM d LEFT JOIN c2 ON c2.node = d.a),
         |c3 AS (SELECT e.b AS node, CAST(SUM(r2.r // d.deg) AS BIGINT) AS cs
         |  FROM e JOIN r2 ON r2.node = e.a JOIN d ON d.a = e.a GROUP BY 1),
         |r3 AS (SELECT d.a AS node,
         |  CAST(150000000 + (85 * COALESCE(c3.cs, 0)) // 100 AS BIGINT) AS r
         |  FROM d LEFT JOIN c3 ON c3.node = d.a)
         |SELECT r3.node AS doc_id, d.deg AS degree, r3.r AS rank_units,
         |  ROUND(CAST(r3.r AS DOUBLE) / 1e9, 6) AS rank
         |FROM r3 JOIN d ON d.a = r3.node""".stripMargin,

    "q139_lsh_recall" ->
      s"""WITH ex AS (SELECT doc1, doc2 FROM ($prefixJoinSql) x),
         |l AS (SELECT doc1, doc2 FROM ($minhashPairsSql) y),
         |h AS (SELECT ex.doc1, ex.doc2,
         |  CASE WHEN l.doc1 IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM ex LEFT JOIN l ON ex.doc1 = l.doc1 AND ex.doc2 = l.doc2),
         |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(hit) AS BIGINT) AS n_hit FROM h),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh FROM l)
         |SELECT n_exact, n_lsh, n_hit,
         |  CAST((2 * n_hit * 10000 + n_exact) // (2 * n_exact) AS DOUBLE) / 1e4
         |    AS recall,
         |  CAST(1 AS BIGINT) AS sample_denom
         |FROM g CROSS JOIN m""".stripMargin,

    "q140_calibration" ->
      """WITH e AS (SELECT event_type,
        |  CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE event_type IN ('purchase', 'error')),
        |s AS (SELECT cents,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(COUNT(*) AS BIGINT) AS t FROM e GROUP BY 1),
        |p AS (SELECT cents, a, t,
        |  COALESCE(CAST(SUM(t) OVER (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pt
        |  FROM s),
        |n AS (SELECT CAST(SUM(t) AS BIGINT) AS n FROM s),
        |b AS (SELECT pt * 10 // n.n AS bin, a, t, cents FROM p CROSS JOIN n)
        |SELECT bin, CAST(SUM(t) AS BIGINT) AS n_rows,
        |  CAST(SUM(a) AS BIGINT) AS n_pos,
        |  CAST((2 * SUM(a) * 10000 + SUM(t)) // (2 * SUM(t)) AS DOUBLE) / 1e4
        |    AS pos_rate,
        |  CAST((2 * SUM(cents * t) * 100 + SUM(t)) // (2 * SUM(t)) AS DOUBLE) / 1e2
        |    AS mean_cents
        |FROM b GROUP BY 1""".stripMargin,

    "q138_cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, source, unnest(toks) AS tok,
         |  generate_subscripts(toks, 1) AS pos FROM t),
         |m AS (SELECT doc_id, source, pos, tok,
         |  CASE WHEN list_reduce(list_prepend(0::BIGINT,
         |      list_transform(generate_series(1, len(tok)),
         |        i -> ascii(substr(tok, i, 1))::BIGINT)),
         |      (a, b) -> (a * 31 + b) % 1000000007) % 8 = 0
         |    THEN 1 ELSE 0 END AS b FROM p),
         |c AS (SELECT doc_id, source, pos, tok,
         |  COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
         |  FROM m),
         |h AS (SELECT doc_id, source, chunk,
         |  md5(string_agg(tok, ' ' ORDER BY pos)) AS h
         |  FROM c GROUP BY 1, 2, 3),
         |d AS (SELECT source, h,
         |  COUNT(*) OVER (PARTITION BY h) AS cnt FROM h)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks,
         |  CAST((2 * SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) * 10000
         |    + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1e4 AS dup_share
         |FROM d GROUP BY 1""".stripMargin,

    "q133_oov_rate" ->
      s"""WITH t AS (SELECT source, unnest($toksSql) AS token FROM documents),
         |v AS (SELECT token, 1 AS in_vocab FROM (
         |  SELECT token, COUNT(*) AS n FROM t GROUP BY 1
         |  ORDER BY n DESC, token LIMIT 16)),
         |j AS (SELECT t.source, v.in_vocab FROM t LEFT JOIN v USING (token))
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST((2 * SUM(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) * 10000
         |    + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1e4 AS oov_share
         |FROM j GROUP BY 1""".stripMargin,

    "q134_novelty_rate" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |b AS (SELECT doc_id, unnest(list_distinct(
         |  CASE WHEN len(toks) >= 2
         |    THEN list_transform(generate_series(1, len(toks) - 1),
         |           i -> array_to_string(toks[i:i+1], ' '))
         |    ELSE [] END)) AS gram FROM t),
         |f AS (SELECT doc_id,
         |  MIN(doc_id) OVER (PARTITION BY gram) AS first_doc FROM b)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST((2 * SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 10000
         |    + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1e4 AS novel_share
         |FROM f GROUP BY 1""".stripMargin,

    "q87_token_maps" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |c AS (SELECT doc_id, token, COUNT(*) AS cnt FROM t GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         |  COALESCE(string_agg(CASE WHEN cnt >= 4 THEN token END, ','
         |    ORDER BY token), '') AS frequent_tokens
         |FROM c GROUP BY doc_id""".stripMargin,

    // floor-quantized micro-nats before the sum: integer agg, exact compare
    "q89_unigram_logprob" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |m AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_total FROM t),
         |q AS (SELECT doc_id,
         |  CAST(FLOOR(ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1e6) AS BIGINT) AS lp_q
         |  FROM t JOIN m USING (token) CROSS JOIN n)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  ROUND(CAST(SUM(lp_q) AS DOUBLE) / 1e6 / COUNT(*), 4) AS avg_logprob
         |FROM q GROUP BY doc_id""".stripMargin,

    "q91_shard_pack" ->
      """WITH c AS (SELECT doc_id, n_chars,
        |  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |  FROM documents)
        |SELECT doc_id, n_chars, start_off,
        |  start_off // 50000 AS shard_id,
        |  start_off % 50000 AS offset_in_shard
        |FROM c""".stripMargin,

    "q15_token_stats" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |  CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS token_chars,
         |  CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stopwords
         |  FROM t)
         |SELECT doc_id, n_tokens, n_distinct, token_chars, n_stopwords,
         |  ROUND(CAST(token_chars AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0), 4) AS avg_token_len,
         |  ROUND(0.3::DOUBLE * (CAST(n_distinct AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0))
         |    + 0.3::DOUBLE * (1.0::DOUBLE - CAST(n_stopwords AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0))
         |    + 0.4::DOUBLE * LEAST(1.0::DOUBLE, CAST(n_tokens AS DOUBLE) / 100.0::DOUBLE), 4) AS quality_score
         |FROM m""".stripMargin,

    "q16_lang_id" ->
      s"""SELECT doc_id,
         |  ${scoreSql(profiles(0)._2)} AS score_qry,
         |  ${scoreSql(profiles(1)._2)} AS score_str,
         |  ${scoreSql(profiles(2)._2)} AS score_tab,
         |  CASE
         |    WHEN ${scoreSql(profiles(0)._2)} >= ${scoreSql(profiles(1)._2)}
         |     AND ${scoreSql(profiles(0)._2)} >= ${scoreSql(profiles(2)._2)} THEN 'qry'
         |    WHEN ${scoreSql(profiles(1)._2)} >= ${scoreSql(profiles(2)._2)} THEN 'str'
         |    ELSE 'tab'
         |  END AS predicted
         |FROM documents""".stripMargin,

    "q17_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(generate_series(1, len(text)),
        |      i -> ascii(substr(text, i, 1))::BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp,
        |  md5(text) AS checksum
        |FROM documents""".stripMargin,

    "q18_dedup_exact" ->
      """SELECT md5(lower(substr(text, 1, 120))) AS dedup_key,
        |  MIN(doc_id) AS kept_doc_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,

    // the bloom pre-filter is invisible to semantics: the oracle is the
    // plain batch-vs-lake anti-join q201's funnel must equal bit-for-bit
    "q201_bloom_dedup" ->
      """WITH k AS (SELECT doc_id, md5(lower(substr(text, 1, 120))) AS dedup_key
        |  FROM documents)
        |SELECT b.dedup_key, MIN(b.doc_id) AS kept_doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS dup_count
        |FROM k b
        |WHERE b.doc_id % 10 = 7 AND NOT EXISTS (
        |  SELECT 1 FROM k l WHERE l.doc_id % 10 <> 7 AND l.dedup_key = b.dedup_key)
        |GROUP BY 1""".stripMargin,

    // the oracle's window sort key is the EXACT scaled quotient
    // (c*10^12)//wm — order-isomorphic to the cross-multiplied rational
    // c/wm because wm ≤ 10^6 means two distinct exact ratios differ by
    // ≥ 1/(wm_i*wm_j) ≥ 10^-12, so their scaled floors differ by ≥ 1,
    // while exactly-equal ratios floor identically; the double-ratio key
    // used before could collapse near-ties beyond double precision and
    // let the source tie-break reorder non-equivalent prefixes (ADVICE
    // r7). Every VALIDITY comparison below is already exact HUGEINT
    // cross-multiplication.
    "q209_budget_fill" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |c AS (SELECT source, CAST(SUM(len(toks)) AS BIGINT) AS c FROM t
         |  GROUP BY 1 HAVING SUM(len(toks)) > 0),
         |m AS (SELECT MAX(c) AS c_max, CAST(SUM(c) AS BIGINT) AS t_total FROM c),
         |w AS (SELECT source, c, CAST(FLOOR(1000000.0 *
         |    sqrt(CAST(c AS DOUBLE) / CAST(nullif(c_max, 0) AS DOUBLE)))
         |    AS BIGINT) AS wm, t_total FROM c, m),
         |b AS (SELECT CAST(SUM(wm) AS BIGINT) AS w_total,
         |  MAX(t_total) // 2 AS bud FROM w),
         |o AS (SELECT source, c, wm,
         |  SUM(c) OVER ord AS cum_c, SUM(wm) OVER ord AS cum_w
         |  FROM w WINDOW ord AS (
         |    ORDER BY CAST(c AS HUGEINT) * 1000000000000 // wm, source
         |    ROWS UNBOUNDED PRECEDING)),
         |cand AS (
         |  SELECT o.source, o.c, o.wm, o.cum_c,
         |    b.bud - o.cum_c AS num, b.w_total - o.cum_w AS den FROM o, b
         |  UNION ALL
         |  SELECT NULL, NULL, NULL, 0, bud, w_total FROM b),
         |valid AS (SELECT cand.cum_c, cand.num, cand.den FROM cand
         |  WHERE den > 0 AND num >= 0
         |    AND (cand.source IS NULL OR
         |      CAST(cand.c AS HUGEINT) * den <= CAST(num AS HUGEINT) * cand.wm)
         |    AND NOT EXISTS (SELECT 1 FROM w j
         |      WHERE (cand.source IS NULL
         |          OR CAST(cand.c AS HUGEINT) * j.wm < CAST(j.c AS HUGEINT) * cand.wm
         |          OR (CAST(cand.c AS HUGEINT) * j.wm = CAST(j.c AS HUGEINT) * cand.wm
         |              AND j.source > cand.source))
         |        AND CAST(j.c AS HUGEINT) * den <= CAST(num AS HUGEINT) * j.wm)),
         |ch AS (SELECT num, den FROM valid ORDER BY cum_c LIMIT 1),
         |fin AS (SELECT w.source, w.c, w.wm,
         |  CASE WHEN CAST(w.c AS HUGEINT) * (SELECT den FROM ch)
         |            <= CAST((SELECT num FROM ch) AS HUGEINT) * w.wm THEN w.c
         |       ELSE CAST((CAST((SELECT num FROM ch) AS HUGEINT) * w.wm)
         |            // (SELECT den FROM ch) AS BIGINT) END AS alloc,
         |  (CAST(w.c AS HUGEINT) * (SELECT den FROM ch)
         |    <= CAST((SELECT num FROM ch) AS HUGEINT) * w.wm) AS capped
         |  FROM w)
         |SELECT source, c AS n_tokens, wm AS weight_micro,
         |  alloc AS alloc_tokens, capped,
         |  CAST((2 * alloc * 10000 + c) // (2 * c) AS BIGINT) AS fill_bp
         |FROM fin""".stripMargin,

    // q182's span machinery with the bench screen replacing the keeper
    // rule: EVERY train window matching an eval gram is cut
    "q208_decontam_rewrite" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |w AS (SELECT doc_id, toks,
         |  unnest(generate_series(1, len(toks) - 7)) AS p
         |  FROM t WHERE len(toks) >= 8),
         |x AS (SELECT doc_id, p - 1 AS pos,
         |  md5(array_to_string(toks[p : p + 7], ' ')) AS h FROM w),
         |bench AS (SELECT DISTINCT h FROM x WHERE doc_id % 100 = 0),
         |rw AS (SELECT doc_id, pos FROM x
         |  WHERE doc_id % 100 <> 0 AND h IN (SELECT h FROM bench)),
         |rp AS (SELECT DISTINCT doc_id, tp FROM (
         |  SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS tp FROM rw) y),
         |e AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  generate_subscripts(toks, 1) - 1 AS tp, unnest(toks) AS tok
         |  FROM t WHERE doc_id % 100 <> 0),
         |kept AS (SELECT e.doc_id, e.n_tokens, e.tp, e.tok FROM e
         |  ANTI JOIN rp USING (doc_id, tp))
         |SELECT doc_id, n_tokens,
         |  n_tokens - CAST(COUNT(*) AS BIGINT) AS n_removed,
         |  CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  md5(string_agg(tok, ' ' ORDER BY tp)) AS kept_md5
         |FROM kept GROUP BY doc_id, n_tokens""".stripMargin,

    // the aggregate-fold maximum run must equal the window/run-id form
    "q203_stutter_runs" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |e AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
         |  i -> struct_pack(i := i, g := toks[i]))) AS s FROM t WHERE len(toks) > 0),
         |r AS (SELECT doc_id, s.i AS i,
         |  CASE WHEN lag(s.g) OVER (PARTITION BY doc_id ORDER BY s.i) = s.g
         |       THEN 0 ELSE 1 END AS brk FROM e),
         |rid AS (SELECT doc_id, i,
         |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS rid FROM r),
         |runs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS rl
         |  FROM rid GROUP BY doc_id, rid),
         |pd AS (SELECT doc_id, MAX(rl) AS max_run FROM runs GROUP BY 1),
         |alld AS (SELECT d.source, COALESCE(p.max_run, 0) AS max_run
         |  FROM documents d LEFT JOIN pd p ON d.doc_id = p.doc_id)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN max_run >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep2_docs,
         |  CAST(SUM(CASE WHEN max_run >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_stutter_docs,
         |  CAST(MAX(max_run) AS BIGINT) AS max_run,
         |  CAST((2 * SUM(CASE WHEN max_run >= 3 THEN 1 ELSE 0 END) * 10000 + COUNT(*))
         |    // (2 * COUNT(*)) AS BIGINT) AS stutter_bp
         |FROM alld GROUP BY 1""".stripMargin,

    // the collect_set pair expansion must equal the plain distinct-set
    // self-join (the naive form IS the oracle)
    "q204_source_gram_overlap" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |sh AS (SELECT source, unnest(CASE WHEN len(toks) >= 3
         |  THEN list_transform(generate_series(1, len(toks) - 2),
         |         i -> array_to_string(toks[i:i+2], ' '))
         |  ELSE [] END) AS g FROM t),
         |d AS (SELECT DISTINCT source, g FROM sh),
         |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS d FROM d GROUP BY 1),
         |p AS (SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM d a JOIN d b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
         |SELECT src_a, src_b, n_common, d_a, d_b,
         |  (2 * n_common * 10000 + (d_a + d_b - n_common))
         |    // (2 * (d_a + d_b - n_common)) AS jaccard_bp,
         |  (2 * n_common * 10000 + LEAST(d_a, d_b))
         |    // (2 * LEAST(d_a, d_b)) AS containment_bp
         |FROM p
         |JOIN (SELECT source AS src_a, d AS d_a FROM sz) USING (src_a)
         |JOIN (SELECT source AS src_b, d AS d_b FROM sz) USING (src_b)""".stripMargin,

    "q206_vocab_coverage" ->
      s"""WITH tok AS (SELECT source, unnest($toksSql) AS g FROM documents),
         |bs AS (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tok GROUP BY 1, 2),
         |v AS (SELECT g FROM (SELECT g, SUM(c) AS cg FROM bs GROUP BY 1)
         |  ORDER BY cg DESC, g ASC LIMIT 16),
         |f AS (SELECT bs.source, bs.c,
         |  CASE WHEN v.g IS NULL THEN 0 ELSE 1 END AS iv
         |  FROM bs LEFT JOIN v ON bs.g = v.g)
         |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN iv = 1 THEN c ELSE 0 END) AS BIGINT) AS n_covered,
         |  CAST(SUM(CASE WHEN iv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_types,
         |  CAST((2 * SUM(CASE WHEN iv = 0 THEN c ELSE 0 END) * 10000 + SUM(c))
         |    // (2 * SUM(c)) AS BIGINT) AS oov_bp
         |FROM f GROUP BY 1""".stripMargin,

    "q19_minhash_lsh" -> minhashPairsSql,

    // q19's pair SQL nested verbatim + q40's split CASE on both ids
    "q94_split_leakage" ->
      s"""WITH pairs AS ($minhashPairsSql),
         |lab AS (SELECT doc1, doc2,
         |  ${splitCaseSql("doc1")} AS split1,
         |  ${splitCaseSql("doc2")} AS split2
         |  FROM pairs)
         |SELECT doc1, doc2, split1, split2 FROM lab
         |WHERE split1 <> split2""".stripMargin,

    "q100_report_card" ->
      s"""WITH b AS (SELECT doc_id, source, lang,
         |  md5(lower(substr(text, 1, 120))) AS k,
         |  $toksSql AS toks FROM documents),
         |f AS (SELECT source, lang, k,
         |  CAST(len(toks) AS BIGINT) AS n_tok,
         |  CAST(FLOOR((0.3::DOUBLE * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
         |    + 0.3::DOUBLE * (1.0::DOUBLE - CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
         |    + 0.4::DOUBLE * LEAST(1.0::DOUBLE, CAST(len(toks) AS DOUBLE) / 100.0::DOUBLE)) * 1e4) AS BIGINT) AS q4
         |  FROM b),
         |kc AS (SELECT k, COUNT(*) AS kc FROM f GROUP BY 1),
         |c AS (SELECT source, lang,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(SUM(q4) AS BIGINT) AS sq,
         |  CAST(SUM(CASE WHEN kc.kc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
         |  FROM f JOIN kc USING (k) GROUP BY 1, 2),
         |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM c)
         |SELECT source, lang, n_docs, n_tokens,
         |  CAST((2 * sq + n_docs) // (2 * n_docs) AS DOUBLE) / 1e4 AS mean_quality,
         |  n_dup_docs,
         |  CAST((2 * n_docs * 10000 + total_docs) // (2 * total_docs) AS DOUBLE) / 100.0 AS share_pct
         |FROM c CROSS JOIN t""".stripMargin,

    "q104_shard_blobs" ->
      """WITH c AS (SELECT doc_id, n_chars, substr(text, 1, 16) AS head16,
        |  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |  FROM documents)
        |SELECT start_off // 50000 AS shard_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
        |  string_agg(head16, '<|doc|>' ORDER BY doc_id) AS blob_head
        |FROM c GROUP BY 1""".stripMargin,

    "q121_curriculum" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS train_order
        |  FROM documents),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT doc_id, n_chars, train_order,
        |  CASE WHEN train_order * 3 <= n_docs THEN 'easy'
        |       WHEN train_order * 3 <= 2 * n_docs THEN 'medium'
        |       ELSE 'hard' END AS phase
        |FROM r CROSS JOIN n""".stripMargin,

    "q126_prefix_join" -> prefixJoinSql,

    "q118_token_drift" ->
      s"""WITH t AS (SELECT source IN ('src0','src1','src2','src3','src4') AS in_a,
         |  unnest($toksSql) AS token FROM documents),
         |c AS (SELECT token,
         |  CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
         |  CAST(SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
         |  FROM t GROUP BY 1),
         |s AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
         |  CAST(SUM(cnt_b) AS BIGINT) AS n_b,
         |  CAST(COUNT(*) AS BIGINT) AS v FROM c)
         |SELECT token, cnt_a, cnt_b,
         |  CAST(FLOOR(
         |    (CAST(cnt_a + 1 AS DOUBLE) / CAST(n_a + v AS DOUBLE))
         |    * ln((CAST(cnt_a + 1 AS DOUBLE) / CAST(n_a + v AS DOUBLE))
         |       / (CAST(cnt_b + 1 AS DOUBLE) / CAST(n_b + v AS DOUBLE)))
         |    * 1e9) AS BIGINT) / 1e9 AS kl_contrib
         |FROM c CROSS JOIN s""".stripMargin,

    "q119_source_overlap" ->
      s"""WITH e AS ($minhashPairsSql)
         |SELECT LEAST(a.source, b.source) AS source_a,
         |  GREATEST(a.source, b.source) AS source_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM e
         |JOIN documents a ON a.doc_id = e.doc1
         |JOIN documents b ON b.doc_id = e.doc2
         |GROUP BY 1, 2""".stripMargin,

    "q115_bigram_logprob" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p0 AS (SELECT doc_id,
         |  unnest(list_transform(generate_series(1, len(toks) - 1),
         |    i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS pr
         |  FROM t),
         |p AS (SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2 FROM p0),
         |bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM p GROUP BY 1, 2),
         |uni AS (SELECT w1, COUNT(*) AS c1 FROM p GROUP BY 1),
         |q AS (SELECT doc_id,
         |  CAST(FLOOR(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1e6) AS BIGINT) AS lp_q
         |  FROM p JOIN bi USING (w1, w2) JOIN uni USING (w1))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ROUND(CAST(SUM(lp_q) AS DOUBLE) / 1e6 / COUNT(*), 4) AS avg_logprob
         |FROM q GROUP BY doc_id""".stripMargin,

    "q111_lang_topic_chisq" ->
      s"""WITH o AS (SELECT lang,
         |  CASE
         |    WHEN ${scoreSql(profiles(0)._2)} >= ${scoreSql(profiles(1)._2)}
         |     AND ${scoreSql(profiles(0)._2)} >= ${scoreSql(profiles(2)._2)} THEN 'qry'
         |    WHEN ${scoreSql(profiles(1)._2)} >= ${scoreSql(profiles(2)._2)} THEN 'str'
         |    ELSE 'tab'
         |  END AS predicted,
         |  CAST(COUNT(*) AS BIGINT) AS n_obs FROM documents GROUP BY 1, 2),
         |r AS (SELECT lang, CAST(SUM(n_obs) AS BIGINT) AS r_tot FROM o GROUP BY 1),
         |c AS (SELECT predicted, CAST(SUM(n_obs) AS BIGINT) AS c_tot FROM o GROUP BY 1),
         |n AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_tot FROM o),
         |g AS (SELECT r.lang, c.predicted, r.r_tot, c.c_tot, n.n_tot,
         |  CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs
         |  FROM r CROSS JOIN c CROSS JOIN n
         |  LEFT JOIN o ON o.lang = r.lang AND o.predicted = c.predicted),
         |d AS (SELECT *, CAST(n_obs AS HUGEINT) * n_tot
         |  - CAST(r_tot AS HUGEINT) * c_tot AS d FROM g)
         |SELECT lang, predicted, n_obs,
         |  CAST((2 * CAST(r_tot AS HUGEINT) * c_tot * 10000 + n_tot) // (2 * n_tot) AS DOUBLE) / 1e4 AS expected,
         |  CAST((2 * d * d * 100 + CAST(r_tot AS HUGEINT) * c_tot * n_tot)
         |    // (2 * CAST(r_tot AS HUGEINT) * c_tot * n_tot) AS DOUBLE) / 1e2 AS chi2_contrib
         |FROM d""".stripMargin,

    "q113_containment" ->
      s"""WITH e AS ($minhashPairsSql),
         |st AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |ss AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(generate_series(1, len(toks) - 2),
         |           i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END AS s FROM st),
         |j AS (SELECT e.doc1, e.doc2, a.s AS s1, b.s AS s2 FROM e
         |  JOIN ss a ON a.doc_id = e.doc1 JOIN ss b ON b.doc_id = e.doc2),
         |m AS (SELECT doc1, doc2,
         |  CAST(len(list_distinct(s1)) AS BIGINT) AS n1,
         |  CAST(len(list_distinct(s2)) AS BIGINT) AS n2,
         |  CAST(len(list_filter(list_distinct(s1), x -> list_contains(s2, x))) AS BIGINT) AS inter
         |  FROM j),
         |f AS (SELECT doc1, doc2, n1, n2, inter,
         |  CAST((2 * inter * 10000 + n1) // (2 * n1) AS DOUBLE) / 1e4 AS contain1,
         |  CAST((2 * inter * 10000 + n2) // (2 * n2) AS DOUBLE) / 1e4 AS contain2
         |  FROM m)
         |SELECT * FROM f WHERE GREATEST(contain1, contain2) >= 0.3""".stripMargin,

    "q108_dup_degree_dist" ->
      s"""WITH e AS ($minhashPairsSql),
         |d AS (SELECT doc1 AS doc_id FROM e UNION ALL SELECT doc2 FROM e),
         |deg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
         |  FROM d GROUP BY 1)
         |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM deg GROUP BY 1""".stripMargin,

    "q109_source_mix" ->
      """WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS c_total FROM per),
        |s AS (SELECT per.*, c_total,
        |  CAST((2 * n_chars * 1000000 + c_total) // (2 * c_total) AS BIGINT) AS share_q
        |  FROM per CROSS JOIN tot),
        |s2 AS (SELECT *, CAST(FLOOR(SQRT(share_q / 1e6) * 1e6) AS BIGINT) AS sq FROM s),
        |qt AS (SELECT CAST(SUM(sq) AS BIGINT) AS q_total FROM s2)
        |SELECT source, n_docs, n_chars,
        |  CAST(share_q AS DOUBLE) / 1e6 AS share,
        |  CAST((2 * sq * 1000000 + q_total) // (2 * q_total) AS DOUBLE) / 1e6 AS weight,
        |  CAST((2 * sq * 1000000 * 10000 + q_total * share_q)
        |    // (2 * q_total * share_q) AS DOUBLE) / 1e4 AS epochs
        |FROM s2 CROSS JOIN qt""".stripMargin,

    "q105_stopword_induction" ->
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS token
         |  FROM documents),
         |d AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM t GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT token, df, n_docs,
         |  CAST((2 * df * 10000 + n_docs) // (2 * n_docs) AS DOUBLE) / 1e4 AS df_share
         |FROM d CROSS JOIN n WHERE df * 2 > n_docs""".stripMargin,

    "q98_sig_union" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |sh AS (SELECT source,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(generate_series(1, len(toks) - 2),
         |           i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END AS s FROM t),
         |hp AS (SELECT source, list_transform(s, x ->
         |  [CAST(('0x' || substr(md5(x), 1, 12)) AS BIGINT),
         |   CAST(('0x' || substr(md5(x), 13, 12)) AS BIGINT)]) AS hs FROM sh),
         |sig AS (SELECT source, CASE WHEN len(hs) > 0 THEN
         |  list_transform(generate_series(0, 11),
         |    i -> list_min(list_transform(hs, q -> (q[1] + i * q[2]) % 1000000007)))
         |  ELSE NULL END AS g FROM hp),
         |n AS (SELECT source, CAST(COUNT(g) AS BIGINT) AS n_sigs FROM sig GROUP BY 1)
         |SELECT source, n_sigs, CAST(u.i - 1 AS INT) AS pos, MIN(g[u.i]) AS min_hash
         |FROM sig JOIN n USING (source)
         |CROSS JOIN (SELECT unnest(generate_series(1, 12)) AS i) u
         |WHERE g IS NOT NULL
         |GROUP BY source, n_sigs, pos""".stripMargin,

    "q99_triangles" ->
      s"""WITH e AS ($minhashPairsSql)
         |SELECT ab.doc1 AS a, ab.doc2 AS b, bc.doc2 AS c
         |FROM e ab JOIN e bc ON ab.doc2 = bc.doc1
         |JOIN e ac ON ac.doc1 = ab.doc1 AND ac.doc2 = bc.doc2""".stripMargin,

    "q96_class_balance" ->
      """WITH m AS (SELECT MIN(n) AS min_n FROM
        |  (SELECT COUNT(*) AS n FROM documents GROUP BY lang)),
        |r AS (SELECT doc_id, lang,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS INT) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, rk FROM r CROSS JOIN m WHERE rk <= min_n""".stripMargin,

    "q93_golden_record" ->
      """WITH k AS (SELECT doc_id, n_chars,
        |  md5(lower(substr(text, 1, 120))) AS dedup_key FROM documents),
        |c AS (SELECT dedup_key, doc_id,
        |  COUNT(*) OVER (PARTITION BY dedup_key) AS cluster_size,
        |  FIRST_VALUE(doc_id) OVER (PARTITION BY dedup_key
        |    ORDER BY n_chars DESC, doc_id ASC) AS canonical_id
        |  FROM k)
        |SELECT dedup_key, doc_id, canonical_id,
        |  CAST(cluster_size AS BIGINT) AS cluster_size,
        |  doc_id = canonical_id AS is_canonical
        |FROM c WHERE cluster_size > 1""".stripMargin,

    "q20_jaccard_pairs" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(generate_series(1, len(toks) - 2),
         |           i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END AS s FROM t),
         |hp AS (SELECT doc_id, list_transform(s, x ->
         |  [CAST(('0x' || substr(md5(x), 1, 12)) AS BIGINT),
         |   CAST(('0x' || substr(md5(x), 13, 12)) AS BIGINT)]) AS hs FROM sh),
         |sig AS (SELECT doc_id,
         |  list_transform(generate_series(0, 11),
         |    i -> list_min(list_transform(hs, q -> (q[1] + i * q[2]) % 1000000007))) AS g
         |  FROM hp),
         |bands AS (SELECT doc_id, u.b AS band,
         |  md5(g[2 * u.b + 1]::VARCHAR || '|' || g[2 * u.b + 2]::VARCHAR) AS bkey
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS b) u),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
         |  FROM bands a JOIN bands c
         |    ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
         |j AS (SELECT p.doc1, p.doc2,
         |  ROUND(
         |    CAST(len(list_filter(list_distinct(t1.s), x -> list_contains(list_distinct(t2.s), x))) AS DOUBLE)
         |    / (CAST(len(list_distinct(t1.s)) AS DOUBLE) + CAST(len(list_distinct(t2.s)) AS DOUBLE)
         |       - CAST(len(list_filter(list_distinct(t1.s), x -> list_contains(list_distinct(t2.s), x))) AS DOUBLE)), 4) AS jacc
         |  FROM pairs p
         |  JOIN sh t1 ON t1.doc_id = p.doc1
         |  JOIN sh t2 ON t2.doc_id = p.doc2)
         |SELECT doc1, doc2, jacc FROM j WHERE jacc >= 0.3""".stripMargin,

    "q33_profile" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
        |  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text_nulls,
        |  MIN(n_chars) AS n_chars_min, MAX(n_chars) AS n_chars_max
        |FROM documents GROUP BY source""".stripMargin,

    "q34_top_tokens" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS token FROM documents),
         |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY token),
         |r AS (SELECT token, n,
         |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS INT) AS rn FROM c)
         |SELECT token, n, rn FROM r WHERE rn <= 20""".stripMargin,

    "q40_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "q41_stratified" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents) WHERE rn <= 25""".stripMargin,

    "q42_mix" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE (source = 'src0' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'ff')
        |   OR (source = 'src1' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80')
        |   OR (source = 'src2' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '33')""".stripMargin,

    "q43_token_budget" ->
      """SELECT doc_id, lang, n_chars, cum_tokens FROM (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(SUM(n_chars) OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM documents) WHERE cum_tokens <= 2000""".stripMargin,

    "q27_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word_tokens,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_tokens,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_other_tokens
        |FROM documents""".stripMargin,

    "q21_simhash" -> simhashSql,

    "q54_decontam" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(generate_series(1, len(toks) - 2),
         |           i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END)) AS gram FROM t),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0),
         |hits AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         |  FROM g JOIN bench USING (gram)
         |  WHERE g.doc_id % 100 != 0 GROUP BY 1)
         |SELECT d.doc_id, d.doc_id % 100 = 0 AS is_benchmark,
         |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  (d.doc_id % 100 != 0 AND COALESCE(h.n_hits, 0) > 0) AS contaminated
         |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id""".stripMargin,

    // composed from the q15/q16/q18/q40/q43 oracle fragments — the same
    // stage semantics, chained
    "q50_corpus_curation" ->
      s"""WITH t AS (SELECT doc_id, text, n_chars, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id, text, n_chars,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |  CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop
         |  FROM t),
         |s AS (SELECT doc_id, text, n_chars,
         |  ROUND(0.3::DOUBLE * (CAST(n_distinct AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0))
         |    + 0.3::DOUBLE * (1.0::DOUBLE - CAST(n_stop AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0))
         |    + 0.4::DOUBLE * LEAST(1.0::DOUBLE, CAST(n_tokens AS DOUBLE) / 100.0::DOUBLE), 4) AS quality_score,
         |  CASE
         |    WHEN ${scoreSql(profiles(0)._2)} >= ${scoreSql(profiles(1)._2)}
         |     AND ${scoreSql(profiles(0)._2)} >= ${scoreSql(profiles(2)._2)} THEN 'qry'
         |    WHEN ${scoreSql(profiles(1)._2)} >= ${scoreSql(profiles(2)._2)} THEN 'str'
         |    ELSE 'tab'
         |  END AS predicted
         |  FROM m),
         |kept AS (SELECT * FROM s WHERE quality_score >= 0.5),
         |keepers AS (SELECT md5(lower(substr(text, 1, 120))) AS k,
         |  MIN(doc_id) AS doc_id FROM kept GROUP BY 1),
         |dedup AS (SELECT * FROM kept WHERE doc_id IN (SELECT doc_id FROM keepers)),
         |fin AS (SELECT doc_id, predicted, quality_score,
         |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
         |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |       ELSE 'test' END AS split,
         |  n_chars,
         |  CAST(SUM(n_chars) OVER (PARTITION BY predicted
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM dedup)
         |SELECT doc_id, predicted, quality_score, split, n_chars, cum_tokens
         |FROM fin WHERE cum_tokens <= 4000""".stripMargin,

    "q51_dup_clusters" ->
      s"""WITH RECURSIVE $simhashPairsSqlCtes,
         |edges AS (SELECT doc1 AS a, doc2 AS b FROM near
         |  UNION SELECT doc2, doc1 FROM near),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |nodes AS (SELECT DISTINCT a AS id FROM edges)
         |SELECT n.id AS doc_id,
         |  CAST(LEAST(n.id, MIN(r.b)) AS BIGINT) AS component
         |FROM nodes n JOIN reach r ON r.a = n.id
         |GROUP BY n.id""".stripMargin,

    "q67_edit_distance" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(generate_series(1, len(toks) - 2),
         |           i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END AS s FROM t),
         |hp AS (SELECT doc_id, list_transform(s, x ->
         |  [CAST(('0x' || substr(md5(x), 1, 12)) AS BIGINT),
         |   CAST(('0x' || substr(md5(x), 13, 12)) AS BIGINT)]) AS hs FROM sh),
         |sig AS (SELECT doc_id,
         |  list_transform(generate_series(0, 11),
         |    i -> list_min(list_transform(hs, q -> (q[1] + i * q[2]) % 1000000007))) AS g
         |  FROM hp),
         |bands AS (SELECT doc_id, u.b AS band,
         |  md5(g[2 * u.b + 1]::VARCHAR || '|' || g[2 * u.b + 2]::VARCHAR) AS bkey
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS b) u),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
         |  FROM bands a JOIN bands c
         |    ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
         |pfx AS (SELECT doc_id, substr(lower(text), 1, 40) AS pfx FROM documents)
         |SELECT p.doc1, p.doc2,
         |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist,
         |  ROUND(1.0::DOUBLE - CAST(levenshtein(a.pfx, b.pfx) AS DOUBLE)
         |    / CAST(GREATEST(len(a.pfx), len(b.pfx)) AS DOUBLE), 4) AS prefix_sim
         |FROM pairs p
         |JOIN pfx a ON a.doc_id = p.doc1
         |JOIN pfx b ON b.doc_id = p.doc2""".stripMargin,

    "q66_normalize" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text, md5(norm_text) AS norm_key,
        |  CAST(len(norm_text) AS BIGINT) AS norm_len
        |FROM n""".stripMargin,

    "q61_pmi_pairs" ->
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM documents),
         |p AS (SELECT a.tok AS token_a, b.tok AS token_b
         |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok),
         |c AS (SELECT token_a, token_b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM p GROUP BY 1, 2),
         |s AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents)
         |SELECT c.token_a, c.token_b, c.c_ab, sa.c AS c_a, sb.c AS c_b,
         |  ROUND(ln(n.nd * CAST(c.c_ab AS DOUBLE)
         |    / (CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE))), 4) AS pmi
         |FROM c
         |JOIN s sa ON sa.tok = c.token_a
         |JOIN s sb ON sb.tok = c.token_b
         |CROSS JOIN n
         |WHERE c.c_ab >= 10""".stripMargin,

    "q58_weighted_sample" ->
      """WITH k AS (SELECT source, doc_id, n_chars,
        |  -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 0.5)
        |      / 281474976710656.0) / CAST(n_chars AS DOUBLE) AS ek
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |r AS (SELECT source, doc_id, n_chars, ek,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY ek ASC, doc_id ASC) AS rn
        |  FROM k)
        |SELECT source, doc_id, n_chars, ROUND(ek, 6) AS es_key
        |FROM r WHERE rn <= 20""".stripMargin,

    "q59_minhash_accuracy" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(generate_series(1, len(toks) - 2),
         |           i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END AS s FROM t),
         |hp AS (SELECT doc_id, list_transform(s, x ->
         |  [CAST(('0x' || substr(md5(x), 1, 12)) AS BIGINT),
         |   CAST(('0x' || substr(md5(x), 13, 12)) AS BIGINT)]) AS hs FROM sh),
         |sig AS (SELECT doc_id,
         |  list_transform(generate_series(0, 11),
         |    i -> list_min(list_transform(hs, q -> (q[1] + i * q[2]) % 1000000007))) AS g
         |  FROM hp),
         |bands AS (SELECT doc_id, u.b AS band,
         |  md5(g[2 * u.b + 1]::VARCHAR || '|' || g[2 * u.b + 2]::VARCHAR) AS bkey
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS b) u),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
         |  FROM bands a JOIN bands c
         |    ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id)
         |SELECT p.doc1, p.doc2,
         |  ROUND(CAST(len(list_filter(generate_series(1, len(g1.g)),
         |    i -> g1.g[i] = g2.g[i])) AS DOUBLE) / CAST(len(g1.g) AS DOUBLE), 4) AS est_jaccard,
         |  ROUND(
         |    CAST(len(list_filter(list_distinct(t1.s), x -> list_contains(list_distinct(t2.s), x))) AS DOUBLE)
         |    / (CAST(len(list_distinct(t1.s)) AS DOUBLE) + CAST(len(list_distinct(t2.s)) AS DOUBLE)
         |       - CAST(len(list_filter(list_distinct(t1.s), x -> list_contains(list_distinct(t2.s), x))) AS DOUBLE)), 4) AS jaccard,
         |  ROUND(ABS(
         |    ROUND(CAST(len(list_filter(generate_series(1, len(g1.g)),
         |      i -> g1.g[i] = g2.g[i])) AS DOUBLE) / CAST(len(g1.g) AS DOUBLE), 4)
         |    - ROUND(
         |      CAST(len(list_filter(list_distinct(t1.s), x -> list_contains(list_distinct(t2.s), x))) AS DOUBLE)
         |      / (CAST(len(list_distinct(t1.s)) AS DOUBLE) + CAST(len(list_distinct(t2.s)) AS DOUBLE)
         |         - CAST(len(list_filter(list_distinct(t1.s), x -> list_contains(list_distinct(t2.s), x))) AS DOUBLE)), 4)), 4) AS abs_err
         |FROM pairs p
         |JOIN sig g1 ON g1.doc_id = p.doc1
         |JOIN sig g2 ON g2.doc_id = p.doc2
         |JOIN sh t1 ON t1.doc_id = p.doc1
         |JOIN sh t2 ON t2.doc_id = p.doc2""".stripMargin,

    "q55_repetition" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |b AS (SELECT doc_id, len(text) AS tl,
         |  CASE WHEN len(toks) >= 2
         |    THEN list_transform(generate_series(1, len(toks) - 1),
         |           i -> array_to_string(toks[i:i+1], ' '))
         |    ELSE [] END AS bg FROM t),
         |s AS (SELECT doc_id, tl,
         |  CAST(len(bg) AS BIGINT) AS n_2grams,
         |  CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_2grams FROM b),
         |g AS (SELECT doc_id, unnest(bg) AS gram FROM b),
         |c AS (SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY 1, 2),
         |top AS (SELECT doc_id, gram, n FROM (
         |  SELECT doc_id, gram, n,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, gram ASC) AS rn
         |  FROM c) WHERE rn = 1)
         |SELECT s.doc_id, s.n_2grams, s.n_distinct_2grams,
         |  ROUND(1.0::DOUBLE - CAST(s.n_distinct_2grams AS DOUBLE)
         |    / NULLIF(CAST(s.n_2grams AS DOUBLE), 0), 4) AS dup_2gram_frac,
         |  t.gram AS top_2gram, CAST(t.n AS BIGINT) AS top_2gram_n,
         |  ROUND(CAST(t.n AS DOUBLE) * CAST(len(t.gram) AS DOUBLE)
         |    / CAST(s.tl AS DOUBLE), 4) AS top_2gram_char_frac
         |FROM s LEFT JOIN top t USING (doc_id)""".stripMargin,

    "q56_tfidf" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
         |c AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM p GROUP BY 1, 2),
         |d AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM c GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
         |s AS (SELECT c.doc_id, c.token, c.tf, d.df,
         |  ROUND(CAST(c.tf AS DOUBLE) * ln(n.n_docs / CAST(d.df AS DOUBLE)), 4) AS score
         |  FROM c JOIN d USING (token) CROSS JOIN n),
         |r AS (SELECT doc_id, token, tf, df, score,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, token ASC) AS INT) AS rn FROM s)
         |SELECT doc_id, token, tf, df, score, rn FROM r WHERE rn <= 3""".stripMargin,

    "q57_gram_postings" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(list_distinct(
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(generate_series(1, len(toks) - 2),
         |           i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END)) AS gram FROM t),
         |d AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM p GROUP BY 1)
         |SELECT p.gram, d.df,
         |  string_agg(CAST(p.doc_id AS VARCHAR), ',' ORDER BY p.doc_id) AS postings
         |FROM p JOIN d USING (gram)
         |WHERE d.df BETWEEN 2 AND 20
         |GROUP BY p.gram, d.df""".stripMargin,

    "q71_bpe_merges" -> bpeMergesSql,

    // the oracle ranks with a plain global ROW_NUMBER (DuckDB is single
    // node — that's fine THERE); hash-equality proves GlobalIndex's
    // distributed range-partition rank assigns the identical ids
    "q77_token_ids" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
         |  i -> struct_pack(pos := i, token := toks[i]))) AS pt FROM t),
         |q AS (SELECT doc_id, pt.pos AS pos, pt.token AS token FROM p),
         |v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY 1),
         |ids AS (SELECT token,
         |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS token_id
         |  FROM v)
         |SELECT q.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  string_agg(CAST(ids.token_id AS VARCHAR), ',' ORDER BY q.pos) AS ids
         |FROM q JOIN ids USING (token)
         |GROUP BY q.doc_id""".stripMargin,

    "q82_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |  unnest(generate_series(0,
         |    CAST(FLOOR((len(toks) + 31) / 32.0) AS INT) - 1)) AS chunk_idx
         |  FROM t WHERE len(toks) > 0),
         |x AS (SELECT doc_id,
         |  md5(array_to_string(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 32], ' ')) AS k
         |  FROM c),
         |f AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS nk FROM x GROUP BY 1)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN nk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  ROUND(CAST(SUM(CASE WHEN nk > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 4) AS dup_chunk_frac
         |FROM x JOIN f USING (k) GROUP BY doc_id""".stripMargin,

    "q78_chunking" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |  unnest(generate_series(0,
         |    CAST(FLOOR((len(toks) + 31) / 32.0) AS INT) - 1)) AS chunk_idx
         |  FROM t WHERE len(toks) > 0)
         |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |  CAST(len(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 32]) AS BIGINT) AS n_tokens,
         |  array_to_string(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 32], ' ') AS chunk_text
         |FROM c""".stripMargin,

    // entropy fold runs over counts ORDERED BY character on both sides —
    // identical double summation order, so ROUND(.,4) hash-matches
    "q74_char_entropy" ->
      """WITH ch AS (SELECT doc_id,
        |  unnest(list_transform(generate_series(1, len(text)),
        |    i -> substr(text, i, 1))) AS c FROM documents),
        |cnt AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ch GROUP BY 1, 2),
        |h AS (SELECT doc_id, list(n ORDER BY c ASC) AS ns,
        |  CAST(SUM(n) AS BIGINT) AS n_chars_total,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct_chars
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_chars_total, n_distinct_chars,
        |  ROUND(list_reduce(list_prepend(0.0::DOUBLE, list_transform(ns,
        |    n -> -(CAST(n AS DOUBLE) / CAST(n_chars_total AS DOUBLE))
        |         * ln(CAST(n AS DOUBLE) / CAST(n_chars_total AS DOUBLE)))),
        |    (a, b) -> a + b), 4) AS entropy
        |FROM h""".stripMargin,

    "q44_simhash_neardup" ->
      s"""WITH $simhashPairsSqlCtes
         |SELECT doc1, doc2,
         |  CAST(bit_count(xor(sh1, sh2)) AS BIGINT) AS hamming
         |FROM near""".stripMargin,

    // pos is the 0-based window start on both engines (Spark's posexplode
    // index == DuckDB's generate_series p - 1); the island threshold
    // pos > prev + 8 means the 8-token windows neither overlap nor touch
    "q178_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |w AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  unnest(generate_series(1, len(toks) - 7)) AS p
         |  FROM t WHERE len(toks) >= 8),
         |x AS (SELECT doc_id, n_tokens, p - 1 AS pos,
         |  md5(array_to_string(toks[p : p + 7], ' ')) AS h FROM w),
         |f AS (SELECT h FROM x GROUP BY h HAVING COUNT(*) >= 2),
         |m AS (SELECT doc_id, n_tokens, pos FROM x JOIN f USING (h)),
         |s AS (SELECT doc_id, n_tokens, pos,
         |  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
         |         OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
         |       THEN 1 ELSE 0 END AS ns FROM m),
         |g AS (SELECT doc_id, n_tokens, pos,
         |  SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS UNBOUNDED PRECEDING) AS span_id FROM s),
         |sp AS (SELECT doc_id, n_tokens, span_id,
         |  CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_tokens
         |  FROM g GROUP BY 1, 2, 3)
         |SELECT doc_id, n_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
         |  CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
         |  ROUND(CAST(SUM(span_tokens) AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
         |    AS dup_share
         |FROM sp GROUP BY doc_id, n_tokens""".stripMargin,

    // keeper = first (doc_id, pos) occurrence per duplicated window hash
    // (lexicographic struct min == ROW_NUMBER rn=1 here); token positions
    // are 0-based on both engines; reassembly is q144's ordered string_agg
    "q182_dedup_rewrite" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |w AS (SELECT doc_id, toks,
         |  unnest(generate_series(1, len(toks) - 7)) AS p
         |  FROM t WHERE len(toks) >= 8),
         |x AS (SELECT doc_id, p - 1 AS pos,
         |  md5(array_to_string(toks[p : p + 7], ' ')) AS h FROM w),
         |k AS (SELECT h, doc_id AS kdoc, pos AS kpos FROM (
         |  SELECT h, doc_id, pos,
         |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         |    COUNT(*) OVER (PARTITION BY h) AS cnt
         |  FROM x) z WHERE rn = 1 AND cnt >= 2),
         |rw AS (SELECT x.doc_id, x.pos FROM x JOIN k USING (h)
         |  WHERE NOT (x.doc_id = k.kdoc AND x.pos = k.kpos)),
         |rp AS (SELECT DISTINCT doc_id, tp FROM (
         |  SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS tp FROM rw) y),
         |e AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  generate_subscripts(toks, 1) - 1 AS tp, unnest(toks) AS tok FROM t),
         |kept AS (SELECT e.doc_id, e.n_tokens, e.tp, e.tok FROM e
         |  ANTI JOIN rp USING (doc_id, tp))
         |SELECT doc_id, n_tokens,
         |  n_tokens - CAST(COUNT(*) AS BIGINT) AS n_removed,
         |  CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  md5(string_agg(tok, ' ' ORDER BY tp)) AS kept_md5
         |FROM kept GROUP BY doc_id, n_tokens""".stripMargin,

    // per-term BM25 contribution floor-quantized to integer micro-units in
    // the IDENTICAL double expression shape as the Spark side (ln over
    // exact integer counts; avgdl as the integer cross product dl*nd/tot)
    "q179_bm25" ->
      s"""WITH $bm25ScoredSqlCtes,
         |r AS (SELECT qid, doc_id, score_micro,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM bm25s)
         |SELECT qid, rank, doc_id, score_micro FROM r WHERE rank <= 3""".stripMargin
  )

  /** The q179 BM25 scoring pipeline as a reusable CTE chain ending in
    * `bm25s(qid, doc_id, score_micro)` — the SQL twin of [[bm25Scored]],
    * shared by the q179 oracle and q181's hybrid-fusion oracle (CTE names
    * are bm25-prefixed where collisions with the semantic arm are
    * possible). */
  private[queries] lazy val bm25ScoredSqlCtes: String =
    s"""bm25t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |bm25g AS (SELECT doc_id, unnest(list_transform(
       |    generate_series(1, len(toks) - 2),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS gram
       |  FROM bm25t WHERE len(toks) >= 3),
       |bm25tf AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM bm25g WHERE doc_id % 100 <> 0 GROUP BY 1, 2),
       |bm25df AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
       |  FROM bm25tf GROUP BY 1 HAVING COUNT(*) <= 50),
       |bm25sz AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
       |  FROM bm25tf GROUP BY 1),
       |bm25tot AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd,
       |  CAST(SUM(tf) AS BIGINT) AS tot FROM bm25tf),
       |bm25qg AS (SELECT DISTINCT doc_id AS qid, gram FROM bm25g
       |  WHERE doc_id % 100 = 0),
       |bm25c AS (SELECT bm25qg.qid, bm25tf.doc_id,
       |  CAST(FLOOR(1000000.0 * (
       |    ln((2.0 * CAST(nd AS DOUBLE) + 2.0)
       |      / (2.0 * CAST(bm25df.df AS DOUBLE) + 1.0))
       |    * ((2.2 * CAST(bm25tf.tf AS DOUBLE))
       |      / (CAST(bm25tf.tf AS DOUBLE) + 0.3
       |        + (0.9 * CAST(bm25sz.dl * nd AS DOUBLE))
       |          / CAST(bm25tot.tot AS DOUBLE))))) AS BIGINT) AS c
       |  FROM bm25tf JOIN bm25qg USING (gram) JOIN bm25df USING (gram)
       |  JOIN bm25sz ON bm25sz.doc_id = bm25tf.doc_id CROSS JOIN bm25tot),
       |bm25s AS (SELECT qid, doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
       |  FROM bm25c GROUP BY 1, 2)""".stripMargin

  /** Oracle twin of q71: the same `bpeSteps` merge iterations unrolled as a
    * CTE chain — per step, weighted pair counts (pK), the (count DESC, pair
    * ASC) argmax (tK), and the merged sequences (sK); the merge table is the
    * union of the tK rows. Same padded-space replace procedure as the Spark
    * side, so the two engines run the identical training loop. */
  private lazy val bpeMergesSql: String = {
    val head =
      s"""WITH v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM (SELECT unnest($toksSql) AS token FROM documents) GROUP BY 1),
         |s0 AS (SELECT w,
         |  ' ' || trim(regexp_replace(token, '(.)', '\\1 ', 'g')) || ' ' AS seq
         |  FROM v)""".stripMargin
    val steps = (1 to bpeSteps).map { k =>
      s"""p$k AS (SELECT pair, CAST(SUM(w) AS BIGINT) AS n FROM (
         |  SELECT w, unnest(list_transform(generate_series(1, len(sy) - 1),
         |    i -> sy[i] || ' ' || sy[i + 1])) AS pair
         |  FROM (SELECT w, string_split(trim(seq), ' ') AS sy FROM s${k - 1})
         |  WHERE len(sy) >= 2) GROUP BY 1),
         |t$k AS (SELECT pair, n FROM p$k ORDER BY n DESC, pair ASC LIMIT 1),
         |s$k AS (SELECT s.w,
         |  replace(s.seq, ' ' || t.pair || ' ', ' ' || replace(t.pair, ' ', '') || ' ') AS seq
         |  FROM s${k - 1} s CROSS JOIN t$k t)""".stripMargin
    }
    val out = (1 to bpeSteps).map { k =>
      s"""SELECT CAST($k AS INTEGER) AS step,
         |  string_split(pair, ' ')[1] AS sym_a,
         |  string_split(pair, ' ')[2] AS sym_b,
         |  replace(pair, ' ', '') AS merged,
         |  n AS pair_count FROM t$k""".stripMargin
    }
    (head +: steps).mkString(",\n") + "\n" + out.mkString("\nUNION ALL\n")
  }

  private def simhashSqlBits(nBits: Int): String =
    s"""WITH t AS (SELECT doc_id,
       |  list_transform($toksSql, x -> md5(x)) AS hs FROM documents)
       |SELECT doc_id,
       |  list_reduce(list_prepend(0::BIGINT,
       |    list_transform(generate_series(0, ${nBits - 1}), j ->
       |      CASE WHEN list_reduce(list_prepend(0::BIGINT,
       |        list_transform(hs, h ->
       |          CASE WHEN strpos('0123456789abcdef', substr(h, j + 1, 1)) - 1 >= 8
       |               THEN 1::BIGINT ELSE (-1)::BIGINT END)),
       |        (a, b) -> a + b) > 0
       |      THEN (2 ** j)::BIGINT ELSE 0::BIGINT END)),
       |    (a, b) -> a + b) AS simhash
       |FROM t""".stripMargin

  private lazy val simhashSql: String = simhashSqlBits(16)

  /** Shared oracle CTE chain for the shingle-simhash near-dup pipeline
    * (q44 pairs, q51 components, q173 savings): `sim` computes the fixed
    * 60-bit fingerprint ([[graft.ops.Dedup.SimhashBits]]) — bit j votes
    * on md5 hex digit j's top bit for j < 32 (the historical formula)
    * and digit (j−32)'s second bit above; 60 keeps `2**59` inside
    * BIGINT. `near` is deliberately BRUTE-FORCE all-pairs + exact
    * Hamming ≤ 3 — NOT a mirror of the Spark-side Manku band tables —
    * so the correctness gate verifies the banding's radius-3
    * LOSSLESSNESS against ground truth rather than checking the
    * construction against itself (a shared banding bug could never
    * hide here). NULL simhash for shingle-less docs (matches the native
    * expression, so such docs never pair). */
  private lazy val simhashPairsSqlCtes: String =
    s"""t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh0 AS (SELECT doc_id,
       |  CASE WHEN len(toks) >= 3
       |    THEN list_transform(generate_series(1, len(toks) - 2),
       |           i -> array_to_string(toks[i:i+2], ' '))
       |    ELSE [] END AS s FROM t0),
       |h0 AS (SELECT doc_id, list_transform(s, x -> md5(x)) AS hs FROM sh0),
       |sim AS (SELECT doc_id,
       |  CASE WHEN len(hs) = 0 THEN NULL ELSE
       |  list_reduce(list_prepend(0::BIGINT,
       |    list_transform(generate_series(0, ${graft.ops.Dedup.SimhashBits - 1}), j ->
       |      CASE WHEN list_reduce(list_prepend(0::BIGINT,
       |        list_transform(hs, h ->
       |          CASE WHEN (CASE WHEN j < 32
       |              THEN strpos('0123456789abcdef', substr(h, j + 1, 1)) - 1 >= 8
       |              ELSE ((strpos('0123456789abcdef', substr(h, j - 31, 1)) - 1) // 4) % 2 = 1
       |            END)
       |            THEN 1::BIGINT ELSE (-1)::BIGINT END)),
       |        (a, b) -> a + b) > 0
       |      THEN (2 ** j)::BIGINT ELSE 0::BIGINT END)),
       |    (a, b) -> a + b) END AS simhash
       |  FROM h0),
       |near AS (SELECT s1.doc_id AS doc1, s2.doc_id AS doc2,
       |  s1.simhash AS sh1, s2.simhash AS sh2
       |  FROM sim s1 JOIN sim s2 ON s1.doc_id < s2.doc_id
       |  WHERE bit_count(xor(s1.simhash, s2.simhash)) <= 3)""".stripMargin
}
