package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{Event, Streams}

/** Streaming operators under MemoryStream micro-batches; correctness is
  * "stream result == the same transform applied in batch mode" (plus the
  * batch twins q13/q14 carry the DuckDB oracle). */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private val batch1 = Seq(
    Event(1, ts(0), 1, "click", 1.0),
    Event(2, ts(1), 1, "click", 2.0),
    Event(3, ts(4), 2, "view", 10.0),
    Event(4, ts(11), 1, "click", 3.0))
  private val batch2 = Seq(
    Event(5, ts(12), 2, "view", 20.0),
    Event(6, ts(25), 1, "click", 4.0),
    Event(4, ts(11), 1, "click", 3.0)) // duplicate event_id 4

  private def runComplete(stream: DataFrame, name: String,
                          mode: OutputMode = OutputMode.Complete): DataFrame = {
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  private def feed(batches: Seq[Event]*): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    batches.foreach(b => ms.addData(b))
    ms.toDF()
  }

  test("tumblingAgg: stream == batch on identical rows") {
    import spark.implicits._
    val streamed = runComplete(Streams.tumblingAgg(feed(batch1, batch2)), "tumb")
    val batch = Streams.tumblingAgg((batch1 ++ batch2).toDF())
    assert(streamed.collect().toSet === batch.collect().toSet)
    // window math: minute 0,1,4 land in [10:00,10:10); 11,12 in [10:10,10:20)
    val n = streamed.filter(col("event_type") === "click" &&
      col("window_start") === ts(0)).select("n_events").as[Long].head()
    assert(n === 2L)
  }

  test("slidingAgg: each event lands in window/slide windows") {
    import spark.implicits._
    val streamed = runComplete(Streams.slidingAgg(feed(batch1)), "slid")
    val batch = Streams.slidingAgg(batch1.toDF())
    assert(streamed.collect().toSet === batch.collect().toSet)
    // 10:00 click events appear in both the [09:55,10:05) and [10:00,10:10) windows
    val starts = streamed.filter(col("event_type") === "click")
      .select("window_start").as[java.sql.Timestamp].collect().toSet
    assert(starts.contains(java.sql.Timestamp.valueOf("2024-01-01 09:55:00")))
    assert(starts.contains(ts(0)))
  }

  test("sessionAgg: session_window closes after gap; stream == batch") {
    import spark.implicits._
    val streamed = runComplete(
      Streams.sessionAgg(feed(batch1, batch2), gap = "10 minutes"), "sess")
    val batch = Streams.sessionAgg((batch1 ++ batch2).toDF(), gap = "10 minutes")
    assert(streamed.collect().toSet === batch.collect().toSet)
    // user 1: events at minutes 0,1,11 + the dup at 11 chain (gaps < 10m);
    // minute 25 starts a new session (11 + 10m gap = 21 < 25)
    val u1 = streamed.filter(col("user_id") === 1)
      .select("n_events").as[Long].collect().sorted
    assert(u1.toSeq === Seq(1L, 4L))
  }

  test("dedupWithinWatermark drops the cross-batch duplicate event_id") {
    import spark.implicits._
    val out = Streams.dedupWithinWatermark(feed(batch1, batch2))
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup").select("event_id").as[Long].collect()
    assert(ids.length === ids.distinct.length)
    assert(ids.count(_ == 4L) === 1)
  }

  test("urlDedupWithinWatermark: cross-batch raw-URL variants collapse to the first arrival per canonical form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, String)]
    // two raw variants of ONE canonical page split across batches, plus a
    // distinct page — the canonicalizer (not the raw string) is the dedup key
    ms.addData(Seq(
      (ts(0), 10L, "http://www.a.example.com/p?id=1&utm_source=feed#s"),
      (ts(1), 11L, "http://b.example.com/q?id=2")))
    ms.addData(Seq(
      (ts(2), 12L, "HTTP://A.EXAMPLE.COM:80/p/?utm_campaign=x&id=1")))
    val out = Streams.urlDedupWithinWatermark(
      ms.toDF().toDF("ts", "doc_id", "raw_url"))
    val q = out.writeStream.format("memory").queryName("urldedup")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("urldedup")
      .select("doc_id", "canonical_url").as[(Long, String)].collect().toSet
    assert(rows === Set(
      (10L, "http://a.example.com/p?id=1"),
      (11L, "http://b.example.com/q?id=2")))
  }

  test("streamStreamJoin: watermarked event-time range join, stream == batch") {
    import spark.implicits._
    val clicks = batch1.filter(_.event_type == "click")
    val views = Seq(
      Event(10, ts(2), 1, "view", 100.0),  // within 10m of click@11? yes for l_ts>=2
      Event(11, ts(40), 1, "view", 200.0)) // too late for all batch1 clicks
    val joined = Streams.streamStreamJoin(
      feed(clicks), feed(views), key = "user_id", maxAge = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssj")
    val batchJoined = Streams.streamStreamJoin(
      clicks.toDF(), views.toDF(), key = "user_id", maxAge = "10 minutes")
    assert(streamed.collect().toSet === batchJoined.collect().toSet)
    // click@11:00 (user 1) pairs with view@10:02 (8m earlier); click@10:00 precedes it
    val pairs = streamed.select("l_event_id", "r_event_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((4L, 10L)))
    assert(!pairs.exists(_._2 == 11L))
  }

  test("enrichWithDim: stream-static broadcast join, stream == batch, unmatched keep NULL") {
    import spark.implicits._
    val dim = Seq((1L, "gold"), (99L, "unused")).toDF("user_id", "tier")
    val streamed = runComplete(
      Streams.enrichWithDim(feed(batch1), dim), "enrich",
      OutputMode.Append)
    val batch = Streams.enrichWithDim(batch1.toDF(), dim)
    assert(streamed.collect().toSet === batch.collect().toSet)
    assert(streamed.count() === batch1.size.toLong, "left join must not drop or fan out")
    val byUser = streamed.select("user_id", "tier").distinct()
      .as[(Long, Option[String])].collect().toMap
    assert(byUser(1L) === Some("gold"))
    assert(byUser(2L) === None, "unmatched stream rows must keep NULL tier, not drop")
  }

  test("streamStreamJoin left_outer: unmatched left rows emit NULLs after watermark expiry") {
    import spark.implicits._
    val late = java.sql.Timestamp.valueOf("2024-01-01 13:00:00")
    val clicks = batch1.filter(_.event_type == "click") // events 1,2 @10:00/01, 4 @10:11
    val views = Seq(Event(10, ts(2), 1, "view", 100.0))
    // sentinels on BOTH streams advance the global watermark to 12:00,
    // proving no in-range view can still arrive for the 10:xx clicks
    val joined = Streams.streamStreamJoin(
      feed(clicks, Seq(Event(99, late, 9, "click", 0.0))),
      feed(views, Seq(Event(98, late, 9, "view", 0.0))),
      key = "user_id", maxAge = "10 minutes", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssjlo")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssjlo")
      .select("l_event_id", "r_event_id").as[(Long, Option[Long])]
      .collect().toMap
    // click@10:11 pairs with view@10:02; the two earlier clicks precede
    // the only view (r_ts <= l_ts fails) and surface as outer NULL rows
    assert(rows(4L) === Some(10L))
    assert(rows(1L) === None && rows(2L) === None)
  }

  test("streamingFunnel advances per-user stages across micro-batches like the batch fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: view -> click -> purchase split ACROSS batches; user 2: click
    // before any view never advances; user 3: view only
    val b1 = Seq(
      Event(1, ts(0), 1, "view", 1.0),
      Event(2, ts(5), 2, "click", 1.0),
      Event(3, ts(6), 3, "view", 1.0),
      Event(4, ts(10), 1, "click", 1.0))
    val b2 = Seq(
      Event(5, ts(20), 1, "purchase", 9.0),
      Event(6, ts(21), 2, "view", 1.0),
      Event(7, ts(3), 1, "purchase", 9.0)) // before the click: must NOT count
    val ms = MemoryStream[Event]
    val q = Streams.streamingFunnel(ms.toDS())
      .writeStream.format("memory").queryName("sfun")
      .outputMode(OutputMode.Append).start()
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    // keep each user's FURTHEST emission — stage is monotonic, so max(stage)
    // is the latest state without relying on collect() row order
    val last = spark.table("sfun").collect()
      .map(r => (r.getAs[Long]("user_id"), r))
      .groupBy(_._1).map { case (u, rs) =>
        u -> rs.map(_._2).maxBy(_.getAs[Int]("stage"))
      }
    assert(last(1L).getAs[Int]("stage") === 3)
    assert(last(1L).getAs[Long]("purchase_us") === ts(20).getTime * 1000L)
    assert(last(2L).getAs[Int]("stage") === 1) // view finally arrived; early click ignored
    assert(last(3L).getAs[Int]("stage") === 1)
    // driver-side reference: same strict-order fold over ALL events sorted
    val all = (b1 ++ b2).sortBy(e => (e.ts.getTime, e.event_id))
    def ref(uid: Long): Int = {
      var v, c, p = Option.empty[Long]
      all.filter(_.user_id == uid).foreach { e =>
        val us = e.ts.getTime * 1000L
        e.event_type match {
          case "view" if v.isEmpty => v = Some(us)
          case "click" if v.exists(_ < us) && c.isEmpty => c = Some(us)
          case "purchase" if c.exists(_ < us) && p.isEmpty => p = Some(us)
          case _ =>
        }
      }
      Seq(v, c, p).count(_.isDefined)
    }
    Seq(1L, 2L, 3L).foreach(u =>
      assert(last(u).getAs[Int]("stage") === ref(u), s"user $u"))
  }

  test("runningUserStats accumulates state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Streams.runningUserStats(ms.toDS())
      .writeStream.format("memory").queryName("run")
      .outputMode(OutputMode.Append).start()
    ms.addData(batch1); q.processAllAvailable()
    ms.addData(batch2); q.processAllAvailable()
    q.stop()
    // last emission for user 1: 3 events in batch1 + 2 more in batch2 = 5
    val rows = spark.table("run").filter(col("user_id") === 1)
      .select("n_events", "total_value")
      .as[(Long, Double)].collect()
    assert(rows.map(_._1).max === 5L)
    assert(rows.find(_._1 == 5L).get._2 === (1.0 + 2.0 + 3.0 + 4.0 + 3.0))
    // user 2 folds its two views, one per batch
    val u2 = spark.table("run").filter(col("user_id") === 2)
      .select("n_events", "total_value").as[(Long, Double)].collect()
    assert(u2.map(_._1).max === 2L)
    assert(u2.find(_._1 == 2L).get._2 === 30.0)
  }

  test("streaming near-dup flags == batch q19 candidate doc2 set (docs arriving in id order)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // real fixture text (so shingle/minhash behavior is the production
      // path), split into two arrival batches on the id order
      val docs = graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id").limit(60)
        .as[(Long, String)].collect().toSeq
      val (b1, b2) = docs.splitAt(30)
      val ms = MemoryStream[(Long, String)]
      val q = Streams.streamingNearDupHits(
          ms.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("neardup_stream")
        .outputMode(OutputMode.Append).start()
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      q.stop()
      val streamed = spark.table("neardup_stream")
        .select("doc_id").distinct().as[Long].collect().toSet
      // batch reference over the same 60 docs: a doc is flagged iff it
      // pairs with ANY lower id — q19's candidate pairs, doc2 side
      import org.apache.spark.sql.functions.{explode => fexplode}
      val banded = docs.toDF("doc_id", "text")
        .select(col("doc_id"), graft.ops.Dedup.shingles3(
          graft.ops.TextAnalysis.tokens(col("text"))).as("sh"))
        .select(col("doc_id"), fexplode(graft.ops.Dedup.lshBands(
          graft.ops.Dedup.minhashSignature(col("sh")))).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"),
          col("bb.band_key").as("band_key"))
      val expected = graft.ops.Dedup.candidatePairs(banded)
        .select("doc2").distinct().as[Long].collect().toSet
      assert(streamed === expected,
        s"stream flagged ${streamed.size} docs, batch reference ${expected.size}")
      assert(expected.nonEmpty, "fixture slice produced no near-dups — test is vacuous")
      // canonical owners must always be earlier (lower-id) docs
      val badOwner = spark.table("neardup_stream")
        .filter(col("canonical_id") >= col("doc_id")).count()
      assert(badOwner === 0L)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("near-dup horizon TTL: in-horizon dups still flagged; silent buckets expire and readmit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // identical text -> identical signature -> every band bucket collides
      val text = "the quick brown fox jumps over the lazy dog again and again"
      val ms = MemoryStream[(Long, String)]
      // NOTE processAllAvailable is UNUSABLE here: processing-time mode
      // makes the stateful operator request a batch on every trigger (to
      // service TTL), so the "no new data" signal it waits on never
      // fires. Use a real trigger interval + poll the sink.
      val q = Streams.streamingNearDupHits(
          ms.toDF().toDF("doc_id", "text"),
          horizon = Some(java.time.Duration.ofSeconds(20)))
        .writeStream.format("memory").queryName("neardup_ttl")
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
        .start()
      def flagsFor(id: Long) = spark.table("neardup_ttl")
        .filter(col("doc_id") === id).select("canonical_id")
        .distinct().as[Long].collect().toSet
      def awaitFlags(id: Long, want: Set[Long]): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        while (flagsFor(id) != want) {
          assert(q.exception.isEmpty, s"query died: ${q.exception}")
          assert(System.currentTimeMillis() < deadline,
            s"timed out: doc $id flags ${flagsFor(id)}, want $want")
          Thread.sleep(1000)
        }
      }
      // batch 1: doc 0 claims every bucket (within-batch tie -> lower id),
      // doc 1 flags against it
      ms.addData(Seq((0L, text), (1L, text)))
      awaitFlags(1L, Set(0L))
      // a later IN-horizon batch still sees owner 0 (cross-batch retention)
      ms.addData(Seq((10L, text)))
      awaitFlags(10L, Set(0L))
      // every bucket then goes silent past the 20 s TTL: ownership
      // expires (and is physically removed), doc 2 is readmitted as the
      // NEW canonical and doc 3 flags against it. The horizon is 20 s —
      // not seconds — because the timeout clock runs from a batch's
      // processing TIMESTAMP while a cold first batch can take several
      // seconds to execute: a too-short horizon expires during batch
      // one's own latency and the test observes a spurious readmit.
      Thread.sleep(25000)
      ms.addData(Seq((2L, text), (3L, text)))
      awaitFlags(3L, Set(2L))
      // ...and with 3's flag committed, 2's absence is final, not a race
      assert(flagsFor(2L) === Set.empty[Long],
        "a doc arriving past the horizon must be readmitted, not flagged")
      q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
