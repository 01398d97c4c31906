package graft

import org.apache.spark.sql.functions._
import graft.ops.{Multimodal, Skew}
import graft.quality.Quality

/** Edge cases for operator paths no oracle query exercises. */
class OpsEdgeSpec extends SparkSpec {

  test("saltedAgg min/max specs merge correctly across salt buckets") {
    import spark.implicits._
    val df = (1 to 1000).map(i => ("k" + (i % 3), i.toLong)).toDF("k", "v")
    val got = Skew.saltedAgg(df, Seq("k"), col("v"),
      Seq(Skew.SaltedMin(col("v"), "mn"), Skew.SaltedMax(col("v"), "mx"),
        Skew.SaltedCount("n")), saltBuckets = 7)
      .as[(String, Long, Long, Long)].collect().toSet
    val expect = df.groupBy("k")
      .agg(min("v").as("mn"), max("v").as("mx"), count(lit(1)).as("n"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got === expect)
  }

  test("sampleFrames with stride larger than n_frames keeps frame 0 only") {
    import spark.implicits._
    val media = Seq((1L, "video", Array[Byte](1), 5))
      .toDF("media_id", "kind", "blob", "nf")
      .select(col("media_id"), col("kind"), col("blob"),
        struct(lit(64).as("width"), lit(48).as("height"),
          lit(0).as("sample_rate"), col("nf").as("n_frames")).as("meta"))
    val frames = Multimodal.sampleFrames(media, stride = 100)
      .select("frame_idx").as[Int].collect()
    assert(frames.toSeq === Seq(0))
  }

  test("q61 sorted_pairs: HOF-nest parity on edge shapes") {
    import spark.implicits._
    def viaNative(ts: Seq[Option[String]]) =
      Seq(Tuple1(ts)).toDF("ts")
        .select(explode(graft.functions.SortedPairs(col("ts"))).as("p"))
        .select("p.a", "p.b").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    def viaHof(ts: Seq[Option[String]]) =
      Seq(Tuple1(ts)).toDF("ts")
        .select(explode(flatten(transform(col("ts"), (x, i) =>
          transform(slice(col("ts"), i + 2, size(col("ts"))), y =>
            struct(x.as("a"), y.as("b")))))).as("p"))
        .select("p.a", "p.b").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val shapes: Seq[Seq[Option[String]]] = Seq(
      Seq(),                                  // empty -> no rows
      Seq(Some("a")),                         // single -> no rows
      Seq(Some("a"), Some("b"), Some("c")),   // 3 pairs, order preserved
      Seq(Some("a"), None, Some("c")))        // null element copied through
    shapes.foreach { ts => assert(viaNative(ts) === viaHof(ts), s"shape $ts") }
  }

  test("q203 stutter fold: NULL tokens break runs (oracle lag(g)=g parity)") {
    import spark.implicits._
    // "a a NULL a a a b" — null-safe equality would see a 5-run across the
    // NULL bridge twice over; the oracle's lag(g) = g (and this fold's
    // plain =) breaks at the NULL, so the longest run is the 3 trailing a's
    val df = Seq(Tuple1(Seq(Some("a"), Some("a"), None, Some("a"), Some("a"),
        Some("a"), Some("b")))).toDF("toks")
    val got = df.select(graft.queries.TextQueries.maxStutterRun.as("r"))
      .as[Long].head()
    assert(got === 3L)
    // and two NULLs in a row are NOT a stutter run
    val nn = Seq(Tuple1(Seq[Option[String]](None, None, None)))
      .toDF("toks")
      .select(graft.queries.TextQueries.maxStutterRun.as("r"))
      .as[Long].head()
    assert(nn === 1L)
  }

  test("q139 sampling conf: deterministic sub-corpus, fraction in schema") {
    spark.catalog.clearCache()
    val full = graft.queries.TextQueries.q139LshRecall(spark, sfDir)
      .collect().head
    assert(full.getAs[Long]("sample_denom") === 1L)
    spark.conf.set("spark.graft.audit.sampleDenom", "5")
    try {
      spark.catalog.clearCache()
      val s = graft.queries.TextQueries.q139LshRecall(spark, sfDir)
        .collect().head
      assert(s.getAs[Long]("sample_denom") === 5L)
      // the 1/5 doc sample must shrink BOTH algorithms' pair spaces
      assert(s.getAs[Long]("n_exact") < full.getAs[Long]("n_exact"))
      assert(s.getAs[Long]("n_lsh") < full.getAs[Long]("n_lsh"))
      // deterministic: same conf, same sample, same row
      spark.catalog.clearCache()
      val s2 = graft.queries.TextQueries.q139LshRecall(spark, sfDir)
        .collect().head
      assert(s2 === s)
    } finally spark.conf.unset("spark.graft.audit.sampleDenom")
  }

  test("q139 releases every cache entry it creates (withPersisted contract)") {
    spark.catalog.clearCache()
    val df = graft.queries.TextQueries.q139LshRecall(spark, sfDir)
    assert(df.count() === 1)
    assert(org.apache.spark.sql.graft.shim.cacheIsEmpty(spark),
      "composed query left persisted frames behind")
  }

  test("quality profile of an empty frame returns zero groups, not a crash") {
    import spark.implicits._
    val empty = Seq.empty[(String, String, Long)].toDF("source", "lang", "n_chars")
    val prof = Quality.profile(empty, Seq("source"), Seq("lang"), Seq("n_chars"))
    assert(prof.count() === 0)
  }

  test("q55/q61 degenerate docs: no bigrams -> NULL repetition stats, no PMI pairs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs").toString
    Seq(
      (0L, "solo", "en", "src0", 4L),            // 1 token: zero bigrams
      (1L, "a a a a", "en", "src0", 7L),         // fully repeated
      (2L, "w x y z w x", "en", "src1", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rep = graft.queries.TextQueries.q55Repetition(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 0: 0 bigrams -> NULL fraction and NULL mode, not NaN/crash
    assert(rep(0L).isNullAt(rep(0L).fieldIndex("dup_2gram_frac")))
    assert(rep(0L).isNullAt(rep(0L).fieldIndex("top_2gram")))
    // doc 1: 3 identical bigrams -> dup fraction 1 - 1/3
    assert(rep(1L).getAs[Double]("dup_2gram_frac") === 0.6667)
    assert(rep(1L).getAs[String]("top_2gram") === "a a")
    // doc 2: the one repeated bigram wins the mode
    assert(rep(2L).getAs[String]("top_2gram") === "w x")
    // PMI: doc 0 contributes no pairs; threshold filters everything here
    assert(graft.queries.TextQueries.q61PmiPairs(spark, dir).count() === 0)
  }

  test("q92 skyline edge: identical prices keep ALL max-size ties, dominated rows drop") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_part").toString
    Seq(
      (1L, "p1", "B1", "T", 10, 5.0),  // frontier (cheapest, size 10)
      (2L, "p2", "B1", "T", 10, 5.0),  // same point: tie, also frontier
      (3L, "p3", "B1", "T", 9, 5.0),   // dominated: same price, smaller
      (4L, "p4", "B1", "T", 12, 7.0),  // frontier (bigger, pricier)
      (5L, "p5", "B1", "T", 11, 9.0))  // dominated by 4 (pricier, smaller)
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = graft.queries.CoreQueries.q92Skyline(spark, dir)
      .select("p_partkey").as[Long].collect().toSet
    assert(got === Set(1L, 2L, 4L))
  }

  test("q103 histogram edge: empty events still emit the full 11-bin zero spine") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_events").toString
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = graft.queries.DateTimeQueries.q103EquiwidthHist(spark, dir)
      .orderBy("bin").collect()
    assert(rows.length === 11)
    assert(rows.forall(_.getAs[Long]("n") === 0L))
    assert(rows.last.isNullAt(rows.last.fieldIndex("hi"))) // overflow bin open
  }

  test("q100 NULL-text edge: NULL-key docs drop, as in the groupBy + inner-join form") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.ops.{Dedup, TextAnalysis => TA}
    val dir = java.nio.file.Files.createTempDirectory("edge_docs100").toString
    Seq[(Long, String, String, String)](
      (1L, "the cat sat", "en", "src0"),
      (2L, "the cat sat", "en", "src0"),
      (3L, "a dog ran far", "en", "src0"),
      (4L, null, "en", "src0"),
      (5L, "a dog ran far away", "de", "src1"))
      .map { case (id, t, l, s) => (id, t, l, s, Option(t).fold(0L)(_.length.toLong)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q100ReportCard(spark, dir).collect().toSet
    // the groupBy(k) + inner-join formulation q100's window replaced
    val toks = TA.tokens(col("text"))
    val n = TA.tokenCount(toks).cast("double")
    val base = graft.sources.Tables.documents(spark, dir)
      .select(col("source"), col("lang"), Dedup.normKey(col("text")).as("k"),
        TA.tokenCount(toks).as("n_tok"),
        floor((lit(0.3) * (TA.distinctTokenCount(toks).cast("double") / n)
          + lit(0.3) * (lit(1.0) - TA.stopwordCount(toks, Seq("the", "a")).cast("double") / n)
          + lit(0.4) * least(lit(1.0), n / lit(100.0))) * lit(1e4))
          .cast("long").as("q4"))
    val kc = base.groupBy(col("k")).agg(count(lit(1)).as("kc"))
    val cells = base.join(kc, Seq("k"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("q4")).as("sq"),
        sum(when(col("kc") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("total_docs", sum(col("n_docs")).over(Window.partitionBy()))
    val want = cells.select(col("source"), col("lang"), col("n_docs"),
        col("n_tokens"),
        (expr("(2 * sq + n_docs) DIV (2 * n_docs)").cast("double") / lit(1e4))
          .as("mean_quality"),
        col("n_dup_docs"),
        (expr("(2 * n_docs * 10000 + total_docs) DIV (2 * total_docs)")
          .cast("double") / lit(100.0)).as("share_pct"))
      .collect().toSet
    assert(got === want)
    assert(got.map(r => (r.getString(0), r.getLong(2))) ===
      Set(("src0", 3L), ("src1", 1L)), "the NULL-text doc must not count")
  }

  test("q104 packing edge: one oversized doc straddles shards deterministically") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs2").toString
    Seq(
      (0L, "aaaa", "en", "src0", 60000L), // alone fills shard 0 and spills
      (1L, "bbbb", "en", "src0", 10L),    // starts at 60000 -> shard 1
      (2L, "cccc", "en", "src0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q104ShardBlobs(spark, dir)
      .orderBy("shard_id")
      .select("shard_id", "n_docs", "blob_head")
      .as[(Long, Long, String)].collect().toSeq
    assert(got === Seq((0L, 1L, "aaaa"), (1L, 2L, "bbbb<|doc|>cccc")))
  }

  test("q107 RANGE frame edge: an event exactly 1h back is IN the trailing window") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_ev107").toString
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 02:00:00")
    t2.setNanos(1000) // +1us: pushes the first event just out of range
    Seq(
      (0L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "view", 1.00, "{}"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1L, "view", 2.00, "{}"),
      (2L, t2, 1L, "view", 4.00, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.queries.DateTimeQueries.q107Trailing1h(spark, dir)
      .orderBy("event_id").select("trailing_sum", "trailing_n")
      .as[(Double, Long)].collect().toSeq
    // event 1: exactly -1h peer included (RANGE boundary is inclusive);
    // event 2: event 1 is 3600.000001s back -> excluded, window is itself only
    assert(got === Seq((1.00, 1L), (3.00, 2L), (4.00, 1L)))
  }

  test("q110 mode edge: frequency ties break to the LOWER value, disc percentiles are data points") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_ev110").toString
    Seq(1.00, 1.00, 2.00, 2.00, 3.00).zipWithIndex.map { case (v, i) =>
      (i.toLong, java.sql.Timestamp.valueOf(s"2024-01-01 00:0$i:00"), 1L, "view", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.queries.DateTimeQueries.q110ValueQuantiles(spark, dir).collect().head
    assert(r.getAs[Double]("mode_value") === 1.00) // tie 1.0 vs 2.0 -> lower wins
    assert(r.getAs[Long]("mode_n") === 2L)
    assert(r.getAs[Double]("p25") === 1.00)
    assert(r.getAs[Double]("p50") === 2.00) // disc: a real data point, not 1.5
    assert(r.getAs[Double]("p90") === 3.00)
  }

  test("q115 bigram edge: single-token docs emit no row (Spark sequence(1,0) counts DOWN)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs115").toString
    Seq(
      (0L, "lone", "en", "src0", 4L),        // 1 token: no pairs, no row
      (1L, "ab ab cd", "en", "src0", 8L),    // pairs: (ab,ab), (ab,cd)
      (2L, "ab cd", "en", "src0", 5L))       // pair: (ab,cd)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q115BigramLogprob(spark, dir)
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    // model: c(ab,ab)=1, c(ab,cd)=2, c(ab .)=3  ->  lp(ab,ab)=ln(1/3), lp(ab,cd)=ln(2/3)
    val q = (x: Double) => math.floor(math.log(x) * 1e6) / 1e6
    def avg(v: Double*) = BigDecimal(v.sum / v.size)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._1) === Seq(1L, 2L)) // doc 0 absent, not a crash or a NaN row
    assert(got === Seq(
      (1L, 2L, avg(q(1.0 / 3), q(2.0 / 3))),
      (2L, 1L, avg(q(2.0 / 3)))))
  }

  test("q126 prefix-join edge: sub-threshold pairs prune, near-identical pairs survive, tiny docs drop") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs126").toString
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "en", "s", 36L),
      (1L, "alpha beta gamma delta epsilon eta", "en", "s", 35L),  // J=3/5 vs doc 0
      (2L, "one two three four five six", "en", "s", 27L),         // J=0 vs others
      (3L, "xx yy", "en", "s", 5L))                                // <3 tokens: no shingles
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q126PrefixJoin(spark, dir)
      .select("doc1", "doc2", "jacc").as[(Long, Long, Double)].collect().toSeq
    // docs 0/1 share 3 of their union of 5 shingles: J = 0.6 >= 0.5 -> kept
    assert(got === Seq((0L, 1L, 0.6)))
  }

  test("q129 KS edge: one empty sample yields NULL D, not NaN") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_ev129").toString
    Seq((0L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "click", 1.00, "{}"),
        (1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1L, "click", 2.00, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.queries.DateTimeQueries.q129KsTest(spark, dir).collect().head
    assert(r.isNullAt(r.fieldIndex("ks_d")), "empty view sample must give NULL, not NaN")
    assert(r.getAs[Long]("n_view") === 0L)
  }

  test("q60 all-zero embedding: NULL scale and stats, never Infinity") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_emb").toString
    Seq((0L, Array(0.0f, 0.0f, 0.0f), 0), (1L, Array(1.0f, -2.0f, 0.5f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = graft.queries.SimilarityQueries.q60QuantizeAudit(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(rows(0L).isNullAt(rows(0L).fieldIndex("scale")))
    assert(rows(0L).isNullAt(rows(0L).fieldIndex("sse")))
    val v1 = rows(1L)
    assert(v1.getAs[Double]("max_abs") === 2.0)
    assert(v1.getAs[Double]("scale") === 63.5)
    assert(v1.getAs[Long]("n_at_rail") === 1L) // only the -2.0 element hits the rail
  }

  test("upsertRegionDim from an empty dimension numbers keys from 1") {
    import spark.implicits._
    val empty = Seq.empty[(Int, String, String, Double, Double)]
      .toDF("region_key", "region_name", "country_name", "lat", "long")
    val batch = Seq(("R2", "C", 1.0, 2.0), ("R1", "C", 3.0, 4.0))
      .toDF("region_name", "country_name", "lat", "long")
    val dim = graft.ops.Dims.upsertRegionDim(empty, batch)
      .orderBy("region_key").collect()
    assert(dim.map(_.getAs[Int]("region_key")).toSeq === Seq(1, 2))
    assert(dim.head.getAs[String]("region_name") === "R1") // natural-key order
  }

  test("q71 BPE merges: hand-computed merge table on a controlled vocabulary") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_bpe").toString
    // vocab: fast(w=3), fat(w=1) -> greedy merges resolve exactly:
    //   step1 f+a (3+1=4), step2 fa+s vs s+t tie at 3 -> "fa s" wins on
    //   pair ASC, step3 fas+t (3), step4 fa+t (1), then no pairs remain
    Seq((0L, "fast fast fast fat", "en", "src0", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q71BpeMerges(spark, dir)
      .orderBy("step")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(got === Seq(
      (1, "f", "a", "fa", 4L),
      (2, "fa", "s", "fas", 3L),
      (3, "fas", "t", "fast", 3L),
      (4, "fa", "t", "fat", 1L))) // exhausts after 4 of the 8 budgeted steps
  }

  test("q71 BPE merges: counts non-increasing and merged = sym_a + sym_b on the fixture corpus") {
    import spark.implicits._
    val got = graft.queries.TextQueries.q71BpeMerges(spark, sfDir)
      .orderBy("step")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(got.size === 8)
    assert(got.map(_._1) === (1 to 8))
    got.foreach { case (_, a, b, m, _) => assert(m === a + b) }
    // a merged pair's count can never exceed an earlier step's top count
    val counts = got.map(_._5)
    assert(counts.zip(counts.tail).forall { case (x, y) => x >= y },
      s"pair counts not non-increasing: $counts")
    // merge table is a set: no pair trained twice
    assert(got.map(t => (t._2, t._3)).distinct.size === got.size)
  }

  test("expectations: seeded violations are counted exactly; NULL keys exempt from unique/FK") {
    import spark.implicits._
    val child = Seq(
      (Some(1L), Some("ok"), 10.0),   // clean
      (Some(1L), Some("ok"), 20.0),   // dup key 1
      (Some(1L), Some("ok"), 30.0),   // dup key 1 again
      (Some(9L), Some("ok"), 40.0),   // orphan FK
      (None, Some("bad"), -5.0),      // null key + bad domain + bad range
      (None, None, 50.0))             // null key + null domain (not TRUE -> violates)
      .toDF("k", "status", "price")
    val parent = Seq(1L, 2L).toDF("pk")
    val got = Quality.expectations(child,
      rowRules = Seq(
        Quality.RowRule("not_null_k", col("k").isNotNull),
        Quality.RowRule("domain_status", col("status").isin("ok")),
        Quality.RowRule("range_price", col("price") > 0.0)),
      uniqueRules = Seq(Quality.UniqueRule("unique_k", Seq("k"))),
      fkRules = Seq(Quality.FkRule("fk_parent", Seq("k"), parent, Seq("pk"))))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("not_null_k") === ((2L, 6L)))
    assert(got("domain_status") === ((2L, 6L))) // NULL status is not TRUE -> violates
    assert(got("range_price") === ((1L, 6L)))
    assert(got("unique_k") === ((2L, 4L)))      // 3 rows of key 1 -> 2 surplus; NULLs exempt
    assert(got("fk_parent") === ((1L, 4L)))     // only the orphan; NULL FKs legal
  }

  test("expectations: empty input yields zero violations, zero checked — not NULLs") {
    import spark.implicits._
    val empty = Seq.empty[(Option[Long], Double)].toDF("k", "price")
    val parent = Seq(1L).toDF("pk")
    val got = Quality.expectations(empty,
      rowRules = Seq(Quality.RowRule("range_price", col("price") > 0.0)),
      uniqueRules = Seq(Quality.UniqueRule("unique_k", Seq("k"))),
      fkRules = Seq(Quality.FkRule("fk_parent", Seq("k"), parent, Seq("pk"))))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      "range_price" -> ((0L, 0L)),
      "unique_k" -> ((0L, 0L)),
      "fk_parent" -> ((0L, 0L))))
  }

  test("GlobalIndex.withGlobalRank matches a driver-side global sort exactly") {
    import spark.implicits._
    // keys deliberately collide so the tie-break column matters
    val df = (1 to 997).map(i => (i % 13, i)).toDF("k", "u")
    val ranked = graft.ops.GlobalIndex
      .withGlobalRank(df, Seq(col("k").desc, col("u").asc), "r", numPartitions = 7)
      .as[(Int, Int, Long)].collect()
    val expect = ranked.map(t => (t._1, t._2)).toSeq
      .sortBy { case (k, u) => (-k, u) }.zipWithIndex
      .map { case ((k, u), i) => ((k, u), i + 1L) }.toMap
    ranked.foreach { case (k, u, r) => assert(r === expect((k, u)), s"key ($k,$u)") }
    assert(ranked.map(_._3).sorted.toSeq === (1L to 997L))
  }

  test("GlobalIndex.withGlobalCumSum matches a driver-side prefix sum exactly") {
    import spark.implicits._
    val df = (1 to 997).map(i => (i % 13, i, (i * 7) % 101)).toDF("k", "u", "v")
    val got = graft.ops.GlobalIndex
      .withGlobalCumSum(df, Seq(col("k").desc, col("u").asc), col("v"), "c",
        numPartitions = 7)
      .as[(Int, Int, Int, Long)].collect()
    var acc = 0L
    val expect = got.map(t => (t._1, t._2, t._3)).toSeq
      .sortBy { case (k, u, _) => (-k, u) }
      .map { case (k, u, v) => val e = ((k, u), acc); acc += v; e }.toMap
    got.foreach { case (k, u, _, c) => assert(c === expect((k, u)), s"key ($k,$u)") }
  }

  test("GlobalIndex.withGlobalRunningMax matches a driver-side scan exactly") {
    import spark.implicits._
    val df = (1 to 997).map(i => (i % 13, i, (i * 31) % 257)).toDF("k", "u", "v")
    val got = graft.ops.GlobalIndex
      .withGlobalRunningMax(df, Seq(col("k").asc, col("u").desc), col("v"), "m",
        numPartitions = 7)
      .as[(Int, Int, Int, Option[Long])].collect()
    var acc: Option[Long] = None
    val expect = got.map(t => (t._1, t._2, t._3)).toSeq
      .sortBy { case (k, u, _) => (k, -u) }
      .map { case (k, u, v) =>
        val e = ((k, u), acc); acc = (acc ++ Seq(v.toLong)).reduceOption(_ max _); e
      }.toMap
    got.foreach { case (k, u, _, m) => assert(m === expect((k, u)), s"key ($k,$u)") }
    assert(got.count(_._4.isEmpty) === 1) // exactly the global first row
  }

  test("GlobalIndex.withGlobalRank on empty input returns empty, not a crash") {
    import spark.implicits._
    val empty = Seq.empty[(Int, Int)].toDF("k", "u")
    assert(graft.ops.GlobalIndex
      .withGlobalRank(empty, Seq(col("k").asc), "r").count() === 0)
  }

  test("GlobalIndex.withGlobalCumSum skips a range partition whose values are all NULL") {
    import spark.implicits._
    // 6 rows in 3 range partitions; only k = 1 and k = 6 carry a value, so
    // the middle partition's total is NULL
    val df = (1 to 6).map(k => (k, if (k == 1) Some(10L) else if (k == 6) Some(5L)
      else None)).toDF("k", "v")
    val got = graft.ops.GlobalIndex
      .withGlobalCumSum(df, Seq(col("k")), col("v"), "c", numPartitions = 3)
      .select("k", "c").as[(Int, Long)].collect().toMap
    assert(got === Map(1 -> 0L, 2 -> 10L, 3 -> 10L, 4 -> 10L, 5 -> 10L, 6 -> 10L))
  }

  test("GlobalIndex: more partitions than rows matches the driver-side scans") {
    import spark.implicits._
    // 16 partitions asked for 5 rows: the range sample caps the cut at one
    // row per partition, so each NULL row (the first one among them) is a
    // whole partition whose partial is NULL, as an empty partition's is
    val rows = Seq((3, Some(7L)), (1, None), (4, Some(2L)), (2, Some(9L)), (5, None))
    val df = rows.toDF("k", "v")
    val sorted = rows.sortBy(_._1)
    val before = sorted.indices.map(i => sorted.take(i).flatMap(_._2))
    val keys = sorted.map(_._1)
    val gi = graft.ops.GlobalIndex
    val ranks = gi.withGlobalRank(df, Seq(col("k")), "r", numPartitions = 16)
      .select("k", "r").as[(Int, Long)].collect().toMap
    val sums = gi.withGlobalCumSum(df, Seq(col("k")), col("v"), "c", numPartitions = 16)
      .select("k", "c").as[(Int, Long)].collect().toMap
    val maxes = gi.withGlobalRunningMax(df, Seq(col("k")), col("v"), "m", numPartitions = 16)
      .select("k", "m").as[(Int, Option[Long])].collect().toMap
    assert(ranks === keys.zip(1L to 5L).toMap)
    assert(sums === keys.zip(before.map(_.sum)).toMap)
    assert(maxes === keys.zip(before.map(_.maxOption)).toMap)
  }

  test("GlobalIndex.withGlobalCumSum reads partition totals in the checkpoint-filling job") {
    import spark.implicits._
    val df = (1 to 997).map(i => (i, i % 11)).toDF("k", "v")
    val (jobs, _) = jobsAndExecutions {
      graft.ops.GlobalIndex.withGlobalCumSum(df, Seq(col("k")), col("v"), "c"); ()
    }
    // range sample, range exchange, then ONE job that fills the checkpoint
    // and reads each partition's total: 3 jobs. An eager checkpoint job
    // followed by a groupBy("__pid") collect (its exchange, then its
    // result) ran 5.
    assert(jobs === 3)
  }

  test("GlobalIndex.withGlobalCumSum shuffles its rows once, by range") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case s: ShuffleExchangeExec => s +: s.children.flatMap(exchanges)
      case other => other.children.flatMap(exchanges)
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        exchanges(qe.executedPlan).foreach(e =>
          seen.add(e.outputPartitioning.getClass.getSimpleName))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val df = (1 to 997).map(i => (i, i % 11)).toDF("k", "v")
    org.apache.spark.sql.graft.shim.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      graft.ops.GlobalIndex.withGlobalCumSum(df, Seq(col("k")), col("v"), "c").collect()
      org.apache.spark.sql.graft.shim.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    // the final AQE plans of the checkpoint and of the collect: the range
    // exchange, and nothing that re-shuffles the checkpointed rows (a
    // per-partition window planned a hashpartitioning exchange too)
    assert(seen.toArray.toSeq === Seq("RangePartitioning"))
  }

  test("GlobalIndex output keeps its input's size estimate") {
    import spark.implicits._
    val df = (1 to 997).map(i => (i, i % 11)).toDF("k", "v")
    val out = graft.ops.GlobalIndex.withGlobalCumSum(df, Seq(col("k")), col("v"), "c")
    // left at spark.sql.defaultSizeInBytes, a join with a corpus-sized
    // frame would broadcast the corpus (q77's token stream did at 10x)
    assert(out.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(1 << 20))
  }

  test("GlobalIndex scans keep their offsets under a later coalesce(1) or union") {
    import spark.implicits._
    val df = (1 to 997).map(i => (i % 13, i, (i * 7) % 101)).toDF("k", "u", "v")
    val sorted = df.as[(Int, Int, Int)].collect().sortBy { case (k, u, _) => (k, u) }
    val keys = sorted.map { case (k, u, _) => (k, u) }
    val ranks = keys.zip(1L to 997L).toMap
    val sums = keys.zip(sorted.scanLeft(0L)(_ + _._3)).toMap
    val order = Seq(col("k"), col("u"))
    val rank = graft.ops.GlobalIndex.withGlobalRank(df, order, "x", numPartitions = 7)
      .select(lit("rank").as("scan"), col("k"), col("u"), col("x"))
    val cum = graft.ops.GlobalIndex
      .withGlobalCumSum(df, order, col("v"), "x", numPartitions = 7)
      .select(lit("sum").as("scan"), col("k"), col("u"), col("x"))
    val expect = Map("rank" -> ranks, "sum" -> sums)
    // coalesce(1) runs every partition in task 0; the union numbers the
    // second scan's partitions from 7
    for ((name, got) <- Seq("coalesce" -> rank.union(cum).coalesce(1),
                            "union" -> rank.union(cum))) {
      val rows = got.as[(String, Int, Int, Long)].collect()
      assert(rows.length === 2 * 997, name)
      rows.foreach { case (scan, k, u, x) =>
        assert(x === expect(scan)((k, u)), s"$name $scan ($k,$u)")
      }
    }
  }

  private def eventsFixture(rows: Seq[(Long, String, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_ev").toString
    rows.map { case (id, ts, u, t, v) =>
      (id, java.sql.Timestamp.valueOf(ts), u, t, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q132/q135 degenerate arms: zero variance or n=1 yield NULL z/t, never NaN") {
    // all values tied -> rank variance 0 -> Mann-Whitney z must be NULL
    val tied = eventsFixture(Seq(
      (0L, "2024-01-01 00:00:00", 1L, "click", 1.00),
      (1L, "2024-01-01 00:01:00", 1L, "click", 1.00),
      (2L, "2024-01-01 00:02:00", 2L, "view", 1.00),
      (3L, "2024-01-01 00:03:00", 2L, "view", 1.00)))
    val mw = graft.queries.DateTimeQueries.q132MannWhitney(spark, tied).collect().head
    assert(mw.isNullAt(mw.fieldIndex("z")), "tied samples must give NULL z, not NaN")
    // n=1 arm -> sample variance undefined -> Welch t and dof must be NULL
    val single = eventsFixture(Seq(
      (0L, "2024-01-01 00:00:00", 1L, "click", 1.00),
      (1L, "2024-01-01 00:01:00", 2L, "view", 2.00),
      (2L, "2024-01-01 00:02:00", 2L, "view", 3.00)))
    val w = graft.queries.DateTimeQueries.q135WelchTtest(spark, single).collect().head
    assert(w.isNullAt(w.fieldIndex("t")), "n=1 arm must give NULL t, not NaN")
    assert(w.isNullAt(w.fieldIndex("dof")))
    assert(w.getAs[Double]("mean_click") === 100.0) // cents, still defined
  }

  test("q136 AUC edges: perfect separation -> 1.0; one empty class -> NULL") {
    val sep = eventsFixture(Seq(
      (0L, "2024-01-01 00:00:00", 1L, "purchase", 9.00),
      (1L, "2024-01-01 00:01:00", 1L, "purchase", 8.00),
      (2L, "2024-01-01 00:02:00", 2L, "error", 1.00),
      (3L, "2024-01-01 00:03:00", 2L, "error", 2.00)))
    val a = graft.queries.DateTimeQueries.q136Auc(spark, sep).collect().head
    assert(a.getAs[Double]("auc") === 1.0)
    val onlyPos = eventsFixture(Seq(
      (0L, "2024-01-01 00:00:00", 1L, "purchase", 9.00)))
    val b = graft.queries.DateTimeQueries.q136Auc(spark, onlyPos).collect().head
    assert(b.isNullAt(b.fieldIndex("auc")), "empty negative class must give NULL")
  }

  test("q138 CDC edge: boundary token closes its chunk; identical docs fully duplicated") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_cdc").toString
    // rolling_hash("h") = 104, 104 % 8 == 0 -> "h" is a boundary; no other
    // single letter below hashes to a multiple of 8
    Seq((1L, "a b h c d", "en", "s1", 9L), (2L, "a b h c d", "en", "s2", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.queries.TextQueries.q138CdcChunks(spark, dir)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dup_chunks"))).toSet
    // chunks per doc: "a b h" | "c d" -> 2 chunks, both shared across docs
    assert(rows === Set(("s1", 2L, 2L), ("s2", 2L, 2L)))
  }

  test("PageRank: hand-computed one round on the path graph a-b-c") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc1", "doc2")
    val r = graft.ops.PageRank.pageRank(edges, iters = 1)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("rank_units")).toMap
    // deg: 1->1, 2->2, 3->1; contribs: ends send 1e9, middle sends 5e8 each way
    // r1(end)   = 150e6 + (85 * 5e8)  DIV 100 = 575e6
    // r1(middle)= 150e6 + (85 * 2e9)  DIV 100 = 1850e6
    assert(r === Map(1L -> 575000000L, 2L -> 1850000000L, 3L -> 575000000L))
  }

  test("withinTolerance edge: boundary is inclusive (FP-exact values)") {
    // 0.25 * 200 = 50 exactly representable: boundary must be inclusive
    assert(Quality.withinTolerance(250.0, 200.0, 0.25) === true)
    assert(Quality.withinTolerance(250.5, 200.0, 0.25) === false)
    assert(Quality.withinTolerance(150.0, 200.0, 0.25) === true)
    assert(Quality.withinTolerance(149.0, 200.0, 0.25) === false)
  }

  test("q177 redacts every injected PII class exactly once per doc") {
    import spark.implicits._
    val out = graft.queries.TextQueries.q177PiiRedaction(spark, sfDir)
    val agg = out.agg(
      count(lit(1)).as("n"),
      sum(col("n_emails")).as("e"),
      sum(col("n_phones")).as("p"),
      sum(col("n_ips")).as("i"),
      sum(when(col("redacted").contains("<EMAIL>") &&
        col("redacted").contains("<PHONE>") &&
        col("redacted").contains("<IP>"), 1L).otherwise(0L)).as("all3"),
      // post-redaction text must carry no residual match of any class
      sum(when(col("redacted").rlike("@") ||
        col("redacted").rlike("\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b") ||
        col("redacted").rlike("\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"), 1L)
        .otherwise(0L)).as("residual"))
      .as[(Long, Long, Long, Long, Long, Long)].head()
    val (n, e, p, i, all3, residual) = agg
    assert(n > 0)
    assert(e === n, "one email per doc")
    assert(p === n, "one phone per doc")
    assert(i === n, "one IP per doc")
    assert(all3 === n, "every doc carries all three placeholders")
    assert(residual === 0L, "no PII pattern survives redaction")
  }

  test("q178 span edges: overlapping windows merge, touching spans merge, distant repeats split") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs178").toString
    def words(prefix: String, n: Int) = (1 to n).map(prefix + _).mkString(" ")
    val shared10 = words("s", 10) // 10-token run shared by docs 0 and 1
    val p8 = words("p", 8)        // 8-token phrase repeated far apart in doc 3
    val r8 = words("r", 8)        // 8-token phrase repeated back-to-back in doc 4
    Seq(
      (0L, s"$shared10 x1 x2 x3"),          // windows 0,1,2 match -> ONE span of 10
      (1L, s"y1 y2 $shared10"),             // windows 2,3,4 match -> ONE span of 10
      (2L, words("z", 8)),                  // unique window: absent from output
      (3L, s"$p8 ${words("q", 9)} $p8"),    // matches at pos 0 and 17: 17 > 0+8 -> TWO spans
      (4L, s"$r8 $r8"))                     // matches at pos 0 and 8: touching -> ONE span of 16
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q178DupSpans(spark, dir)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (0L, 13L, 1L, 10L, 0.7692), // span tokens 0..9 of 13
      (1L, 12L, 1L, 10L, 0.8333),
      (3L, 25L, 2L, 16L, 0.64),   // two disjoint 8-token spans
      (4L, 16L, 1L, 16L, 1.0)))   // adjacency (pos diff exactly 8) merges
  }

  test("q179 edges: identical corpus docs tie on score and break to the lower doc_id; no shared gram, no row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs179").toString
    Seq(
      (100L, "alpha beta gamma delta"),     // query doc (doc_id % 100 == 0)
      (1L, "alpha beta gamma zz1 zz2"),     // shares gram "alpha beta gamma"
      (2L, "alpha beta gamma zz1 zz2"),     // identical text -> identical score
      (3L, "uu1 uu2 uu3 uu4 uu5"))          // no shared gram -> absent
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q179Bm25(spark, dir)
      .orderBy("rank").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)) === Seq((100L, 1L, 1L), (100L, 2L, 2L)))
    assert(got(0)._4 === got(1)._4, "identical docs must score identically")
    assert(got(0)._4 > 0L, "positive idf: Lucene form never goes negative")
  }

  test("q182 rewrite edges: keep-first wins, later copies are cut, fully-deduped docs vanish") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs182").toString
    def words(prefix: String, n: Int) = (1 to n).map(prefix + _).mkString(" ")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val shared10 = words("s", 10)
    val p8 = words("p", 8)
    val r8 = words("r", 8)
    val z8 = words("z", 8)
    Seq(
      (0L, s"$shared10 x1 x2 x3"),       // corpus-first occurrence: loses nothing
      (1L, s"y1 y2 $shared10"),          // later copy: positions 2..11 cut
      (2L, z8),                          // first occurrence of z-run: intact
      (3L, s"$p8 ${words("q", 9)} $p8"), // within-doc repeat: SECOND p-run cut
      (4L, s"$r8 $r8"),                  // back-to-back repeat: second half cut
      (5L, z8))                          // exact copy of doc 2: fully deduped -> NO row
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q182DedupRewrite(spark, dir)
      .orderBy("doc_id").as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3, r._4)) === Seq(
      (0L, 13L, 0L, 13L), (1L, 12L, 10L, 2L), (2L, 8L, 0L, 8L),
      (3L, 25L, 8L, 17L), (4L, 16L, 8L, 8L)))
    assert(got(1)._5 === md5hex("y1 y2"))
    assert(got(3)._5 === md5hex(s"$p8 ${words("q", 9)}"))
    assert(got(4)._5 === md5hex(r8))
  }

  test("q182 long-doc edge: a 120k-token 99.99%-duplicated doc rewrites in seconds, not hours") {
    // The operator's reason to exist is long boilerplate-heavy documents —
    // exactly where the pre-r6 indexed-filter form went quadratic per row
    // (|cuts| -> |toks|: ~1.4e10 array_contains probes in ONE task for this
    // doc). The native merge walk is O(|toks|+|cuts|); this case completes
    // with the rest of the suite. Expected semantics: the doc is one 8-token
    // phrase repeated 15k times, so the 8 cyclic window rotations keep their
    // FIRST occurrences (pos 0..7) and every later window is cut — the cut
    // ranges [8, n-1] leave exactly the first 8 tokens standing.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs182_long").toString
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val p8 = (1 to 8).map("p" + _).mkString(" ")
    val long = Seq.fill(15000)(p8).mkString(" ") // 120,000 tokens
    Seq((0L, long), (1L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q182DedupRewrite(spark, dir)
      .orderBy("doc_id").as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (0L, 120000L, 119992L, 8L, md5hex(p8)),
      (1L, 9L, 0L, 9L, md5hex("u1 u2 u3 u4 u5 u6 u7 u8 u9"))))
  }

  test("q181 fusion edges: one-arm docs keep the other rank NULL, and an exact rrf tie breaks to the lower doc_id") {
    // doc 1 is lexical-only: it shares the gram "alpha beta gamma" with the
    // query but its embedding is the NEGATION of the query's — SRP buckets
    // of -v are the bitwise complement of v's in every table (no dot
    // product is zero for this v), so it can never be a semantic
    // candidate. doc 2 is semantic-only: identical embedding (bucket-mate
    // in all tables, cosine 1.0) but no shared gram. Each therefore
    // surfaces at rank 1 in exactly one arm -> identical fused scores
    // 1000000 DIV 61, and the tie must break to the lower doc_id.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs181").toString
    val v = Array.tabulate(64)(j => (((j * 37) % 101) - 50) / 100.0f + 0.013f)
    val neg = v.map(x => -x)
    Seq(
      (100L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma zz1 zz2"),
      (2L, "uu1 uu2 uu3 uu4"),
      (3L, "vv1 vv2 vv3 vv4"))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((100L, v, 0), (1L, neg, 0), (2L, v, 0), (3L, neg, 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.queries.SimilarityQueries.q181HybridRrf(spark, dir)
      .orderBy("rank")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])].collect().toSeq
    assert(got === Seq(
      (100L, 1L, 1L, 16393L, Some(1L), None),
      (100L, 2L, 2L, 16393L, None, Some(1L))))
  }

  test("q183 edges: target-like docs outrank raw-only docs, weights match an independent reimplementation, target rows absent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs183").toString
    Seq(
      (0L, "aa bb aa", "src0"),    // target: defines the desirable distribution
      (1L, "aa bb", "src1"),       // raw, target-like tokens -> positive-ish weight
      (2L, "cc dd cc dd", "src2")) // raw, zero target overlap -> strictly lower
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent reimplementation of the contract (same md5 bucket, same
    // Laplace(+1, +256) models, same floor-to-micro-per-bucket order)
    def bucket(tok: String): Int = Integer.parseInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(2), 16)
    val target = Seq("aa", "bb", "aa").map(bucket)
    val raw = (Seq("aa", "bb") ++ Seq("cc", "dd", "cc", "dd")).map(bucket)
    val (nt, nr) = (target.size.toLong, raw.size.toLong)
    def lam(b: Int): Long = {
      val ct = target.count(_ == b).toLong
      val cr = raw.count(_ == b).toLong
      math.floor(1000000.0 * math.log(
        ((ct + 1).toDouble * (nr + 256).toDouble)
          / ((cr + 1).toDouble * (nt + 256).toDouble))).toLong
    }
    def weight(toks: Seq[String]): Long = toks.map(t => lam(bucket(t))).sum
    val got = graft.queries.TextQueries.q183DsirWeights(spark, dir)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "src1", 2L, weight(Seq("aa", "bb"))),
      (2L, "src2", 4L, weight(Seq("cc", "dd", "cc", "dd")))))
    assert(got(0)._4 > got(1)._4,
      "a target-vocabulary doc must outweigh a target-disjoint doc")
  }

  test("q184 edges: a doc spanning three sequences, boundary-exact starts, ragged tail fill") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs184").toString
    def words(n: Int) = (1 to n).map("w" + _).mkString(" ")
    Seq(
      (0L, words(500)),   // stream [0, 500): starts seq 0
      (1L, words(600)),   // [500, 1100): spans seqs 0,1,2 — starts only in 0
      (2L, words(12)),    // [1100, 1112): inside seq 2
      (3L, ""),           // zero tokens: contributes nothing
      (4L, words(424)))   // [1112, 1536): fills seq 2 exactly, ends at 3*512
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q184SeqPacking(spark, dir)
      .orderBy("seq_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 2L, 2L, 512L),  // docs 0+1; both start here; full
      (1L, 1L, 0L, 512L),  // doc 1 mid-span only
      (2L, 3L, 2L, 512L))) // doc 1 tail + docs 2,4 start; exact fill, no seq 3
  }

  test("q185 multi-probe: candidate set is EXACTLY the <=1-bit-flip collision set, a strict superset of single-probe") {
    import spark.implicits._
    import graft.ops.Similarity
    val dir = java.nio.file.Files.createTempDirectory("edge_emb185").toString
    // 60 deterministic irregular vectors; n=60 -> adaptive pn = 3
    val vecs = (0 until 60).map(i => Array.tabulate(64)(j =>
      ((((i * 31 + j * 17 + 3) % 23) - 11) / 10.0f) + 0.0137f * ((i + j) % 7 - 3)))
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pn = Similarity.adaptivePlanes(60L)
    assert(pn === 3)
    // independent bucket computation through the public expression
    val signs = Similarity.hyperplaneSigns(8 * Similarity.MaxPlanesPerTable, 64)
    val buckets: Map[Long, Seq[Long]] = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        Similarity.srpBucketsAdaptive(col("embedding"), signs, 8, pn).as("bs"))
      .as[(Long, Seq[Long])].collect().toMap
    def cands(qid: Long, maxFlips: Int): Set[Long] =
      buckets.keySet.filter(v => v != qid && (0 until 8).exists(t =>
        java.lang.Long.bitCount(buckets(qid)(t) ^ buckets(v)(t)) <= maxFlips))
    val got = graft.queries.SimilarityQueries.q185MultiprobeAnn(spark, dir)
      .select("qid", "n_cand", "neighbor_id", "rn")
      .as[(Long, Long, Long, Int)].collect().toSeq
    (0L until 8L).foreach { qid =>
      val exp1 = cands(qid, 1) // own bucket or one flipped plane, any table
      val rows = got.filter(_._1 == qid)
      assert(rows.forall(_._2 == exp1.size),
        s"qid=$qid n_cand ${rows.map(_._2).distinct} != |expected| ${exp1.size}")
      assert(rows.map(_._3).toSet.subsetOf(exp1))
      // multi-probe must widen at least SOME query's candidate pool
      assert(cands(qid, 0).subsetOf(exp1))
    }
    assert((0L until 8L).exists(qid => cands(qid, 0).size < cands(qid, 1).size),
      "fixture degenerate: 1-bit probes added no candidates for any query")
  }

  test("q186 temperature mix: exact integer weights/probabilities/epochs on hand-computable counts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs186").toString
    def words(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    Seq(
      (0L, words("a", 9), "src_a"),  // 9 tokens
      (1L, words("b", 4), "src_b"),  // 4
      (2L, "c1", "src_c"),           // 1
      (3L, words("d", 10), "src_d"), // 16 across two docs = c_max
      (4L, words("e", 6), "src_d"))
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q186TemperatureMix(spark, dir)
      .orderBy("source").as[(String, Long, Long, Long, Long)].collect().toSeq
    // weights: floor(1e6*sqrt(c/16)) = 750000, 500000, 250000, 1000000
    // (sum 2500000); p = w*1e6 // 2500000; epochs = p*30 // c
    assert(got === Seq(
      ("src_a", 9L, 750000L, 300000L, 1000000L),
      ("src_b", 4L, 500000L, 200000L, 1500000L),
      ("src_c", 1L, 250000L, 100000L, 3000000L),
      ("src_d", 16L, 1000000L, 400000L, 750000L)))
    // the temperature property: sampling probability still orders by size,
    // expected epochs order INVERTS it (small sources repeat more)
    assert(got.sortBy(_._2).map(_._4) === got.sortBy(_._2).map(_._4).sorted)
    assert(got.sortBy(_._2).map(_._5) ===
      got.sortBy(_._2).map(_._5).sorted.reverse)
  }

  test("q186 fully degenerate corpus (every source tokenizes empty): NULL weights, never NaN-floored zeros") {
    import spark.implicits._
    // c_max = 0 makes the weight 0/0: Spark's NaN chain used to floor to
    // 0 while DuckDB's 0/0 is NULL — the nullif(c_max, 0) guard makes
    // both engines agree on NULL for every derived column.
    val dir = java.nio.file.Files.createTempDirectory("edge_docs186z").toString
    Seq((0L, "   ", "en", "src_a", 3L), (1L, "", "en", "src_b", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q186TemperatureMix(spark, dir)
      .orderBy("source").collect()
    assert(got.length === 2)
    for (r <- got) {
      assert(r.getAs[Long]("n_tokens") === 0L)
      for (c <- Seq("weight_micro", "p_micro", "epochs_micro"))
        assert(r.isNullAt(r.fieldIndex(c)), s"$c should be NULL, got $r")
    }
  }

  test("q187 gram collision: exact ppm on hand-computable counts; one-gram source NULLs; gram-less source emits no row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs187").toString
    Seq(
      (0L, "x x x x x", "src_dup"),       // grams: "x x x x" twice -> G=2, coll=2, ppm=1000000
      (1L, "a b c d e", "src_mix"),       // 2 distinct grams, no repeat
      (2L, "a b c d", "src_mix"),         // 1 more "a b c d" -> c("a b c d")=2
      (3L, "p q r s", "src_one"),         // exactly one gram -> G=1 -> NULL ppm
      (4L, "u v w", "src_none"))          // 3 tokens -> no 4-gram -> no row
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q187GramCollision(spark, dir)
      .orderBy("source")
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    // src_mix: grams = {"a b c d": 2, "b c d e": 1}, G=3, coll=2*1=2,
    // ppm = 1e6*2 // (3*2) = 333333
    assert(got === Seq(
      ("src_dup", 2L, 1L, Some(1000000L)),
      ("src_mix", 3L, 2L, Some(333333L)),
      ("src_one", 1L, 1L, None)))
  }

  test("q180 degenerate edge: identical vectors (zero variance) yield NULL loadings, not a divide-by-zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_emb180").toString
    val vec = Array.fill(64)(0.25f)
    (0L to 9L).map(i => (i, vec, 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.queries.SimilarityQueries.q180PcaPower(spark, dir).collect()
    assert(got.length === 64)
    assert(got.forall(_.isNullAt(1)), "centered data is all-zero: max|w| = 0 must null out, not throw")
  }

  test("q188 recall audit: single-probe candidates are a subset of multi-probe; per-query hits dominate") {
    val single = graft.queries.SimilarityQueries
      .srpCandidateSet(spark, sfDir, multiProbe = false)
    val multi = graft.queries.SimilarityQueries
      .srpCandidateSet(spark, sfDir, multiProbe = true)
    // the structural claim behind mp_hits >= srp_hits: probing only ever
    // ADDS buckets, so the candidate set can only grow
    assert(single.exceptAll(multi).count() === 0L,
      "a single-probe candidate is missing from the multi-probe set")
    assert(multi.count() > single.count(),
      "multi-probe should widen the candidate set on the fixture")
    val rows = graft.queries.SimilarityQueries.q188AnnRecall(spark, sfDir).collect()
    assert(rows.length === 8)
    for (r <- rows) {
      val srp = r.getAs[Long]("srp_hits")
      val mp = r.getAs[Long]("mp_hits")
      val ivf = r.getAs[Long]("ivf_hits")
      assert(mp >= srp, s"multi-probe recall must dominate single-probe: $r")
      for (h <- Seq(srp, mp, ivf)) assert(h >= 0L && h <= 3L)
      assert(r.getAs[Long]("mp_recall_ppm") === mp * 1000000L / 3L)
    }
  }

  test("q189 fuzzy decontam: exact dup across the slice boundary surfaces at jacc 1.0; output is train-side only, citing eval docs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs189").toString
    val dup = "alpha beta gamma delta epsilon zeta"
    Seq(
      (0L, dup, "src_a"),                       // eval (0 % 50 == 0)
      (1L, dup, "src_a"),                       // train twin of doc 0
      (2L, "one two three four five six", "src_b"), // train, unrelated
      (50L, "seven eight nine ten eleven", "src_c")) // eval, unrelated
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q189FuzzyDecontam(spark, dir)
      .as[(Long, Long, Double, Long)].collect().toSeq
    spark.catalog.clearCache()
    assert(got === Seq((1L, 1L, 1.0, 0L)))
  }

  test("q189 on the fixture: every flagged doc is train-side, every cited doc is eval-side, jacc at or above the bar") {
    val rows = graft.queries.TextQueries.q189FuzzyDecontam(spark, sfDir).collect()
    spark.catalog.clearCache()
    for (r <- rows) {
      assert(r.getAs[Long]("train_id") % 50 != 0L, s"eval doc in output: $r")
      assert(r.getAs[Long]("top_eval_id") % 50 == 0L, s"non-eval citation: $r")
      assert(r.getAs[Long]("n_eval_hits") >= 1L)
      assert(r.getAs[Double]("max_jacc") >= 0.3)
    }
  }

  test("q190 boilerplate prefix: shared 8-token prefix reported with exact share; short docs and unshared prefixes drop") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs190").toString
    val pre = (1 to 8).map("w" + _).mkString(" ")
    Seq(
      (0L, s"$pre tail one", "src_a"),
      (1L, s"$pre tail two", "src_a"),
      (2L, "too short", "src_a"),              // < 8 tokens: excluded from prefixes, counted in the denominator
      (3L, "p1 p2 p3 p4 p5 p6 p7 p8 x", "src_b"),
      (4L, "q1 q2 q3 q4 q5 q6 q7 q8 y", "src_b")) // src_b: no prefix shared
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q190BoilerplatePrefix(spark, dir)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    // share: 2 of 3 src_a docs -> (2*2*10000 + 3) DIV 6 = 6667 bp
    assert(got === Seq(("src_a", pre, 2L, 0L, 6667L)))
  }

  test("q191 Hill estimator: hand-computable tail (alpha = 1/ln 2), all-equal tail NULLs, undersized source emits no row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs191").toString
    // src_geo: 20 tokens with count 2 + one ref token with count 1 ->
    // every tail term is floor(ln(2) * 1e6) = 693147, alpha = 20e6 /
    // (20 * 693147) = 1.442695 (1/ln 2 to the quantization grid)
    val geo = ((1 to 20).flatMap(i => Seq.fill(2)(f"t$i%02d")) :+ "u99").mkString(" ")
    // src_eq: 21 distinct tokens, every count 1 -> sum_ln_micro = 0 -> NULL
    val eq = (1 to 21).map(i => f"e$i%02d").mkString(" ")
    Seq(
      (0L, geo, "src_geo"),
      (1L, eq, "src_eq"),
      (2L, "a b c d e", "src_small")) // 5 distinct tokens: no rank-21 ref
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q191ZipfTail(spark, dir)
      .orderBy("source")
      .as[(String, Long, Long, Option[Double])].collect().toSeq
    assert(got === Seq(
      ("src_eq", 20L, 0L, None),
      ("src_geo", 20L, 20L * 693147L, Some(1.442695))))
  }

  test("q192 distinct-n: exact counts and half-up basis points; a 2-token source NULLs its 3-gram block") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs192").toString
    Seq(
      (0L, "x x y", "src_a"), // 1g: n=3 d=2; 2g: n=2 d=2; 3g: n=1 d=1
      (1L, "p q", "src_b"))   // no 3-gram
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q192NgramDiversity(spark, dir)
      .orderBy("source")
      .as[(String, Long, Long, Long, Option[Long], Option[Long], Option[Long],
           Option[Long], Option[Long], Option[Long])].collect().toSeq
    assert(got === Seq(
      ("src_a", 3L, 2L, 6667L, Some(2L), Some(2L), Some(10000L),
        Some(1L), Some(1L), Some(10000L)),
      ("src_b", 2L, 2L, 10000L, Some(1L), Some(1L), Some(10000L),
        None, None, None)))
  }

  test("q195 fertility: hand-computed subword/word/char ratios in exact half-up units") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs195").toString
    // "ab cd-ef 12": 3 whitespace words; BPE pre-tokens ab|cd|-|ef|12 = 5;
    // 11 chars -> fertility 5/3 = 16667 bp, chars/subword 11/5 = 2200000 µ
    Seq((0L, "ab cd-ef 12", "en", "src_a", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q195Fertility(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("en", 1L, 3L, 5L, 16667L, 2200000L)))
  }

  test("q203 stutter runs: aggregate-fold max run matches hand counts; empty doc scores 0; half-up bp") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs203").toString
    Seq(
      (0L, "a a a b", "src_a"),  // run of 3 -> rep2 + stutter
      (1L, "x y x y", "src_a"),  // alternation: max run 1
      (2L, "p p q", "src_b"),    // run of 2: rep2 only
      (3L, "", "src_b"))         // zero tokens: max run 0
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q203StutterRuns(spark, dir)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // src_a: 1 of 2 docs stutters -> (2*1*10000 + 2) DIV 4 = 5000 bp
    assert(got === Seq(
      ("src_a", 2L, 1L, 1L, 3L, 5000L),
      ("src_b", 2L, 1L, 0L, 2L, 0L)))
  }

  test("q204 source gram overlap: hand-computed jaccard/containment; zero-overlap pairs absent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs204").toString
    Seq(
      (0L, "w1 w2 w3 w4", "src_a"), // grams {w1w2w3, w2w3w4}
      (1L, "w1 w2 w3 z", "src_b"),  // grams {w1w2w3, w2w3z}
      (2L, "q1 q2 q3", "src_c"))    // disjoint: must not appear
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q204SourceGramOverlap(spark, dir)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    // jacc 1/3 -> (2*10000 + 3) DIV 6 = 3333; containment 1/2 -> 5000
    assert(got === Seq(("src_a", "src_b", 1L, 2L, 2L, 3333L, 5000L)))
  }

  test("q205 centroid shift: hand-computed cosine on axis vectors; single-label corpus yields NULL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_emb205").toString
    Seq(
      (0L, Array(1.0f, 1.0f), 0),  // s = (1e6, 1e6)
      (1L, Array(1.0f, 0.0f), 1))  // s = (1e6, 0)
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.queries.SimilarityQueries.q205CentroidShift(spark, dir)
      .orderBy("label")
      .as[(Int, Long, Long, Option[Double])].collect().toSeq
    // both labels: cos((1,1),(1,0)) = 1/sqrt(2) -> 0.707107
    assert(got === Seq(
      (0, 1L, 1L, Some(0.707107)),
      (1, 1L, 1L, Some(0.707107))))
    val solo = java.nio.file.Files.createTempDirectory("edge_emb205b").toString
    Seq((0L, Array(1.0f, 2.0f), 7))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$solo/embeddings.parquet")
    val lone = graft.queries.SimilarityQueries.q205CentroidShift(spark, solo)
      .as[(Int, Long, Long, Option[Double])].collect().toSeq
    assert(lone === Seq((7, 1L, 0L, None))) // zero rest-vector: NULL, never NaN
  }

  test("q206 vocab coverage: top-16 cut is deterministic at a count tie (token asc); OOV mass exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs206").toString
    // 17 tokens all with count 2: the tie at the boundary drops t17
    val a = (1 to 16).map(i => f"t$i%02d t$i%02d").mkString(" ")
    Seq((0L, a, "src_a"), (1L, "t17 t17", "src_b"))
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q206VocabCoverage(spark, dir)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("src_a", 32L, 32L, 0L, 0L),
      ("src_b", 2L, 0L, 1L, 10000L)))
  }

  test("q207 centroid matrix: orthogonal and 45-degree label pairs land at 0 and 1/sqrt(2)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_emb207").toString
    Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f), 1),
      (2L, Array(1.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.queries.SimilarityQueries.q207CentroidMatrix(spark, dir)
      .orderBy("label_a", "label_b")
      .as[(Int, Int, Long, Long, Option[Double])].collect().toSeq
    assert(got === Seq(
      (0, 1, 1L, 1L, Some(0.0)),
      (0, 2, 1L, 1L, Some(0.707107)),
      (1, 2, 1L, 1L, Some(0.707107))))
  }

  test("q208 decontam rewrite: eval spans cut from train docs, clean docs pass, fully-contaminated docs vanish") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs208").toString
    val evalText = (1 to 8).map("e" + _).mkString(" ")
    Seq(
      (0L, evalText, "src_e"),            // eval slice (doc_id % 100 == 0)
      (1L, s"x1 $evalText x2", "src_t"),  // eval window at pos 1..8
      (2L, "c1 c2 c3", "src_t"),          // short, untouched
      (3L, evalText, "src_t"))            // fully contaminated: no row
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val md5 = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = graft.queries.TextQueries.q208DecontamRewrite(spark, dir)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 10L, 8L, 2L, md5("x1 x2")),
      (2L, 3L, 0L, 3L, md5("c1 c2 c3"))))
  }

  test("q209 budget fill: hand-computed water level, cap redistribution, floor grants") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs209").toString
    def toks(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    Seq(
      (0L, toks("a", 100), "src1"),
      (1L, toks("b", 50), "src2"),
      (2L, toks("d", 10), "src3"))
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // B = 160/2 = 80; weights (1e6, 707106, 316227); src3 caps first
    // (water level num/den = 70/1707106), then floor grants 41 + 28 + 10
    val got = graft.queries.TextQueries.q209BudgetFill(spark, dir)
      .orderBy("source")
      .as[(String, Long, Long, Long, Boolean, Long)].collect().toSeq
    assert(got === Seq(
      ("src1", 100L, 1000000L, 41L, false, 4100L),
      ("src2", 50L, 707106L, 28L, false, 5600L),
      ("src3", 10L, 316227L, 10L, true, 10000L)))
  }

  test("q196 PSI: union bins, add-1 smoothing, and contributions match an independent in-test recomputation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs196").toString
    val t10 = (1 to 10).map("w" + _).mkString(" ")
    val t20 = (1 to 20).map("v" + _).mkString(" ")
    Seq(
      (0L, t10, "src0"), (1L, t10, "src0"), (2L, t10, "src0"), // slice, b16
      (3L, t10, "src1"),                                       // rest, b16
      (4L, t20, "src1"))                                       // rest, b32
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q196PsiDrift(spark, dir)
      .orderBy("bucket")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // independent recomputation of the documented shape: na=3 nb=2 B=2
    def exp(cA: Long, cB: Long): (Long, Double) = {
      val (xnb, yna) = ((cA + 1) * 4, (cB + 1) * 5)
      val l = math.floor(math.log(xnb.toDouble / yna) * 1e9).toLong
      val contrib = BigDecimal((xnb - yna).toDouble * l / (5.0 * 4.0) / 1e9)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      (l, contrib)
    }
    val (l16, c16) = exp(3, 1)
    val (l32, c32) = exp(0, 1)
    assert(got === Seq((16L, 3L, 1L, l16, c16), (32L, 0L, 1L, l32, c32)))
    // both tails of the smoothing: the slice-empty bin contributes a
    // POSITIVE term too (PSI is symmetric-positive), sanity-pinned
    assert(c16 > 0 && c32 > 0)
  }

  test("q197 calibration: an exact-dup pair lands in bin 20 with nothing else; fixture bins stay in [0, 20]") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs197").toString
    val dup = (1 to 12).map("d" + _).mkString(" ")
    val other = (1 to 12).map("z" + _).mkString(" ") // disjoint vocabulary
    Seq((0L, dup, "s"), (1L, dup, "s"), (2L, other, "s"))
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q197JaccCalibration(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    spark.catalog.clearCache()
    assert(got === Seq((20L, 100L, 1L)))
    val fix = graft.queries.TextQueries.q197JaccCalibration(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSeq
    spark.catalog.clearCache()
    assert(fix.map(_._3).sum > 0)
    assert(fix.forall(r => r._1 >= 0 && r._1 <= 20 && r._2 == r._1 * 5))
  }

  test("q198 occupancy: identical docs fill size-2 buckets in every band, a disjoint doc fills size-1, short docs vanish") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs198").toString
    val dup = (1 to 12).map("d" + _).mkString(" ")
    val other = (1 to 12).map("z" + _).mkString(" ")
    Seq((0L, dup, "s"), (1L, dup, "s"), (2L, other, "s"), (3L, "a b", "s"))
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.q198BandOccupancy(spark, dir)
      .orderBy("bucket_size")
      .as[(Long, Long, Long)].collect().toSeq
    // 6 bands: the dup twins share all 6 keys (size 2, 1 pair each); the
    // disjoint doc owns its 6 (size 1, 0 pairs); "a b" has no shingles
    assert(got === Seq((1L, 6L, 0L), (2L, 6L, 6L)))
  }

  test("q199 funnel: each layer removes exactly its own class — URL group, exact twin, chunk-dup pair") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs199").toString
    val tA = (1 to 10).map("a" + _).mkString(" ")            // d0's text
    val c32 = (1 to 32).map("c" + _).mkString(" ")
    val d32 = (1 to 32).map("d" + _).mkString(" ")
    val s32 = (1 to 32).map("s" + _).mkString(" ")           // shared chunk
    val tU = (1 to 10).map("u" + _).mkString(" ")            // survives all
    // URL groups are doc_id DIV 3 per source: {0,1,2} collapse to 0;
    // 3/6/9/12 are singleton groups
    val rows = Seq(
      (0L, tA), (1L, "junk one"), (2L, "junk two"),
      (3L, tA),              // URL keeper, exact twin of d0 -> dropped at L2
      (6L, s"$c32 $s32"),    // chunk 2 shared with d9 -> both dropped at L3
      (9L, s"$d32 $s32"),
      (12L, tU))
    rows.map { case (id, t) => (id, t, "en", "src_a", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.WebQueries.q199DedupFunnel(spark, dir)
      .orderBy("stage")
      .as[(Long, String, Long, Long)].collect().toSeq
    def chars(ids: Long*) =
      rows.filter(r => ids.contains(r._1)).map(_._2.length.toLong).sum
    assert(got === Seq(
      (0L, "0_intake", 7L, chars(0, 1, 2, 3, 6, 9, 12)),
      (1L, "1_url", 5L, chars(0, 3, 6, 9, 12)),
      (2L, "2_exact", 4L, chars(0, 6, 9, 12)),
      (3L, "3_chunk", 2L, chars(0, 12))))
  }

  test("q200 phash groups: full independent recomputation agrees; every planted twin collapses into its original's group") {
    import spark.implicits._
    // independent reimplementation of the whole fingerprint path — the
    // pHash recipe in BigInt (the cosine table is the shared contract,
    // pinned against hand literals in MultimodalSpec): container pad
    // (PPM zero-pads non-audio payloads to whole RGB triples), 32
    // positional cells, floor cell means, DCT, magnitude-relative bits
    def phashOf(text: String, kind: String): Long = {
      val raw = text.getBytes("UTF-8")
      val pad = if (kind == "audio") 0 else (3 - raw.length % 3) % 3
      val b = raw ++ new Array[Byte](pad)
      val n = b.length
      val G = graft.ops.MediaDsp.Grid
      val sums = new Array[Long](G); val counts = new Array[Long](G)
      var i = 0
      while (i < n) {
        val s = (i.toLong * G / n).toInt
        sums(s) += (b(i) & 0xff); counts(s) += 1; i += 1
      }
      val v = (0 until G).map(j =>
        if (counts(j) > 0) BigInt(sums(j)) * 256 / counts(j) else BigInt(0))
      val cs = (0 until graft.ops.MediaDsp.Coeffs).map(k0 =>
        (0 until G).map(j => v(j) * graft.ops.MediaDsp.cosTable(k0)(j)).sum)
      val amag = cs.map(_.abs).sum
      var h = 0L
      for (k0 <- cs.indices; t <- 0 until 4)
        if (cs(k0) * 60 > amag * (2 * t - 3)) h |= 1L << (k0 * 4 + t)
      h
    }
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val kindOf = (id: Long) => Seq("image", "audio", "video")((id % 3).toInt)
    val mediaRows =
      docs.map { case (id, t) => (id, kindOf(id), t) } ++
        docs.filter(_._1 % 25 == 0)
          .map { case (id, t) =>
            (id + 1000000000L, kindOf(id), t.replace("the", "thf")) }
    // planted twins land within the detection radius of their original:
    // most collapse to the identical fingerprint (same group), a doc
    // whose coefficient sits on a threshold edge flips a bit or two and
    // surfaces as a near-group pair instead — either way detected
    for ((id, t) <- docs if id % 25 == 0)
      assert(java.lang.Long.bitCount(
        phashOf(t, kindOf(id)) ^ phashOf(t.replace("the", "thf"), kindOf(id))) <= 3,
        s"twin of $id")
    val groups = mediaRows.map { case (id, k, t) => (k, phashOf(t, k), id) }
      .groupBy(r => (r._1, r._2))
      .map { case ((k, p), rs) => (k, p, rs.map(_._3).min, rs.size.toLong) }
      .toSeq
    val expected = groups.map { case (k, p, rep, n) =>
      val near = groups.filter(g => g._1 == k && g._2 != p &&
        java.lang.Long.bitCount(g._2 ^ p) <= 3)
      (k, rep, n, near.size.toLong,
        if (near.isEmpty) None else Some(near.map(_._3).min))
    }.toSet
    val got = graft.queries.MediaQueries.q200MediaPhash(spark, sfDir)
      .as[(String, Long, Long, Long, Option[Long])].collect().toSet
    assert(got === expected)
    assert(expected.exists(_._3 >= 2), "no collapsed group — injection broken")
  }
}
