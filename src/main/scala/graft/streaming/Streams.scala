package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** One event of the `events` fixture stream (see TESTDATA.md). */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                 event_type: String, value: Double)

/** Per-user running aggregate maintained by [[Streams.runningUserStats]]. */
case class UserRunning(user_id: Long, n_events: Long, total_value: Double,
                       last_ts: java.sql.Timestamp)

/** Per-user funnel state/output for [[Streams.streamingFunnel]]: the
  * reached stage (1=view, 2=click, 3=purchase) and stage timestamps in
  * epoch micros (q62's convention). */
case class FunnelRow(user_id: Long, stage: Int, view_us: Option[Long],
                     click_us: Option[Long], purchase_us: Option[Long])

/** Structured Streaming operators.
  *
  * The reference is daily batch (SURVEY.md §2.8 — `dags/ETL_covid19_spark.py:76`
  * pins `schedule_interval=timedelta(days=1)`), so nothing here is required for
  * parity; these are the streaming-shaped capabilities a training-data engine
  * needs, built the Spark-native way: every transform is `DataFrame =>
  * DataFrame`, so the SAME code runs in batch mode (tested against the DuckDB
  * oracle via the batch queries q13/q14) and under `readStream`/`writeStream`
  * (tested with MemoryStream in StreamingSpec).
  *
  * Scale notes (100 TB/day firehose):
  *  - watermarks bound state: without them, windowed agg state grows forever;
  *  - state lives in the HDFS/RocksDB state store partitioned by grouping key —
  *    the groupBy key (event_type / user_id) is the shuffle key, so key skew
  *    (one hot user) is the thing to watch; salting the window start into the
  *    key is the standard fix;
  *  - `dropDuplicatesWithinWatermark` keeps only the watermark-width id set
  *    per partition instead of all-time ids.
  */
object Streams {

  /** Tumbling-window aggregate: count + sum(value) per (window, event_type).
    * Watermark bounds state eviction; in batch mode the watermark is a no-op
    * and results equal a plain groupBy — that equivalence is the spec. */
  def tumblingAgg(events: DataFrame, window_ : String = "10 minutes",
                  watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Sliding-window aggregate (window/slide): each event lands in
    * window/slide windows. */
  def slidingAgg(events: DataFrame, window_ : String = "10 minutes",
                 slide: String = "5 minutes",
                 watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Gap-based sessionization via the native `session_window` generator —
    * the streaming twin of the batch lag/cumsum sessionizer (q14, which has
    * the DuckDB oracle). Sessions close when no event arrives for `gap`. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Exactly-once by event_id within the watermark: late duplicates beyond
    * the watermark age out of state instead of accumulating forever. */
  def dedupWithinWatermark(events: DataFrame,
                           watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Crawl-intake URL dedup — the streaming twin of q193: each arriving
    * page's URL is canonicalized ([[graft.ops.Urls.canonicalUrl]]: host
    * case/`www.`/`:80`/fragment/tracker normalization) and only the FIRST
    * arrival per canonical URL within the watermark passes downstream.
    * This is the cheapest dedup layer a streaming crawl runs (a narrow
    * string map + keyed state — no shingles, no signatures), in front of
    * [[streamingNearDupHits]]'s content layer. State = one entry per
    * distinct canonical URL seen within the watermark, so the horizon is
    * the memory knob exactly as in [[dedupWithinWatermark]]; a re-crawl
    * arriving past the horizon is readmitted (the batch lake pass — q193
    * over the accumulated lake — catches those, CorpusPipeline's posture). */
  def urlDedupWithinWatermark(crawl: DataFrame,
                              watermark: String = "30 minutes"): DataFrame =
    crawl
      .withColumn("canonical_url",
        graft.ops.Urls.canonicalUrl(col("raw_url")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("canonical_url")

  /** Stream-stream inner join with an event-time range: each left event
    * pairs with right events of the same key no older than `maxAge`.
    * BOTH sides carry watermarks and the join condition bounds event-time
    * distance — the two requirements that let Spark expire join state
    * instead of buffering both streams forever. The time bound doubles as
    * the state-retention window: at 100 TB/day, maxAge IS the memory knob. */
  /** `joinType = "left_outer"` additionally emits unmatched left events
    * with NULL right columns — but only once the watermark proves no
    * in-range right event can still arrive. The join bounds r_ts to
    * [l_ts − maxAge, l_ts], so a left row is provably unmatched as soon
    * as the watermark passes its own l_ts (the latest possible match is
    * simultaneous); outer results therefore trail by the WATERMARK delay.
    * maxAge bounds the RIGHT side's state retention instead (a right row
    * can match left rows up to r_ts + maxAge). That lag is the price of
    * a correct outer join on unbounded input; the same two requirements
    * (both-side watermarks + the time bound) make it possible at all. */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       key: String, maxAge: String = "30 minutes",
                       watermark: String = "1 hour",
                       joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"), col("value").as("l_value"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"), col("value").as("r_value"))
    l.join(r,
      col(key) === col("r_key") &&
        col("r_ts") <= col("l_ts") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $maxAge"),
      joinType)
      .drop("r_key")
  }

  /** Stream-static enrichment join — the streaming twin of J1's broadcast
    * dimension join: every micro-batch left-joins the bounded dimension
    * table, keeping stream rows with no match (NULL dim columns) rather
    * than dropping them mid-pipeline. No watermark and no join state —
    * the static side is not stateful; it is RE-PLANNED each micro-batch,
    * so a file-backed dimension picks up upserts (Dims.upsertRegionDim)
    * between batches without restarting the query. At scale this is the
    * same broadcast the batch mart join uses — the stream never
    * shuffles. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    key: String = "user_id"): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Stream -> date-partitioned parquet lake via foreachBatch: each
    * micro-batch appends into `day_of_data=<date>` partitions
    * ([[graft.sources.Sinks.appendDatePartition]]'s layout), so downstream
    * batch readers get partition pruning over streamed data.
    *
    * Delivery semantics, honestly: the checkpoint makes the SOURCE
    * exactly-once, but plain parquet append in foreachBatch is
    * at-least-once on sink replay after a crash mid-batch. Production
    * exactly-once needs a transactional table format or
    * dedup-on-read by event_id (e.g. the q18 exact-dedup operator). */
  def sinkDatePartitioned(events: DataFrame, path: String,
                          checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events
      .withColumn("day_of_data", to_date(col("ts")))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sinks.appendDatePartition(batch, path)
      }
      .start()

  /** Stream -> database over JDBC via foreachBatch — the streaming twin of
    * the reference's batch DB load (`spark_transform_data.py:60-66`): each
    * micro-batch appends through [[graft.sources.Sinks.appendJdbc]].
    * Same delivery caveat as the parquet sink: source-side exactly-once
    * from the checkpoint, at-least-once into a non-transactional-append
    * table on replay — dedupe by event_id downstream or write to a staging
    * table + MERGE in production. */
  def sinkJdbc(events: DataFrame, url: String, table: String,
               props: java.util.Properties,
               checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sinks.appendJdbc(batch, url, table, props)
      }
      .start()

  /** Streaming data-contract audit: evaluates
    * [[graft.quality.Quality.expectations]] row rules on EVERY micro-batch
    * and appends the (batch_id, rule, n_violations, n_checked) audit rows
    * to a parquet table — the intake gate as a living stream, not a
    * nightly batch job. The per-batch audit is a handful of rows (one per
    * rule), so the sink write is trivially cheap regardless of stream
    * volume; batch_id makes replayed batches (same at-least-once caveat as
    * the sinks above) identifiable for dedup-on-read. */
  def auditExpectations(events: DataFrame,
                        rowRules: Seq[graft.quality.Quality.RowRule],
                        path: String,
                        checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.quality.Quality.expectations(batch, rowRules)
          .withColumn("batch_id", lit(id))
          .write.mode("append").parquet(path)
      }
      .start()

  /** Custom keyed state: per-user running (count, sum, last-seen) emitted on
    * every update — the `flatMapGroupsWithState` pattern for state machines
    * the built-in windows can't express. State is one small case class per
    * user key, partitioned by user_id in the state store. */
  def runningUserStats(events: Dataset[Event]): Dataset[UserRunning] = {
    implicit val enc = Encoders.product[UserRunning]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(
            UserRunning(uid, 0L, 0.0, new java.sql.Timestamp(0L)))
          // fold this batch in event order (MemoryStream preserves addData order
          // within a partition; sort by ts for determinism across partitions)
          val next = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            .foldLeft(prev) { (s, e) =>
              UserRunning(uid, s.n_events + 1, s.total_value + e.value,
                if (e.ts.after(s.last_ts)) e.ts else s.last_ts)
            }
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Streaming strict-order funnel — the stateful stream twin of the batch
    * q62 semantics (earliest view, earliest click AFTER it, earliest
    * purchase AFTER that): per-user state is just the three stage
    * timestamps (micros), updated by folding each micro-batch in event-time
    * order. Emits the user's current funnel row on every update (Update-
    * style consumers keep the latest). Honest limitation, documented not
    * hidden: events arriving out of order ACROSS batches can be missed for
    * a stage already advanced past them — exact cross-batch reordering
    * needs a watermark-bounded event buffer in state; within-batch
    * disorder is handled by the sort. */
  def streamingFunnel(events: Dataset[Event]): Dataset[FunnelRow] = {
    implicit val enc = Encoders.product[FunnelRow]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[FunnelRow, FunnelRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[FunnelRow]) =>
          // stage 0 = no view yet (batch q62 simply omits such users)
          val prev = state.getOption.getOrElse(FunnelRow(uid, 0, None, None, None))
          val next = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            .foldLeft(prev) { (s, e) =>
              val us = e.ts.getTime * 1000L
              e.event_type match {
                case "view" if s.view_us.isEmpty =>
                  s.copy(stage = 1, view_us = Some(us))
                case "click" if s.view_us.exists(_ < us) && s.click_us.isEmpty =>
                  s.copy(stage = 2, click_us = Some(us))
                case "purchase" if s.click_us.exists(_ < us) && s.purchase_us.isEmpty =>
                  s.copy(stage = 3, purchase_us = Some(us))
                case _ => s
              }
            }
          state.update(next)
          Iterator.single(next)
      }
  }

  /** One LSH band-bucket claim of an arriving document (key `bkey` =
    * "band:band_key", the same 6-band MinHash banding as batch q19). */
  case class BandClaim(bkey: String, doc_id: Long)

  /** A streaming near-dup flag: `doc_id` shares band bucket `bkey` with
    * the already-admitted `canonical_id`. */
  case class DupHit(doc_id: Long, bkey: String, canonical_id: Long)

  /** The band-owner rule, one bucket's micro-batch at a time: the FIRST
    * document to claim a band bucket owns it (within-batch ties go to the
    * lower doc_id, so a batch's outcome is arrival-order independent and
    * deterministic); every later claimant yields a [[DupHit]] against the
    * owner. `owner` is -1 while the bucket is unowned; returns the owner
    * after the batch. A plain loop: every micro-batch runs it per bucket. */
  private def claimBucket(owner: Long, bkey: String,
      rows: Iterator[BandClaim]): (Long, Iterator[DupHit]) = {
    val ids = rows.map(_.doc_id).toArray
    java.util.Arrays.sort(ids)
    val hits = new scala.collection.mutable.ArrayBuffer[DupHit]
    var own = owner
    var i = 0
    while (i < ids.length) {
      if (own < 0) own = ids(i)
      else if (ids(i) != own) hits += DupHit(ids(i), bkey, own)
      i += 1
    }
    (own, hits.iterator)
  }

  /** Per-bucket owner state on `transformWithState`: [[claimBucket]]'s
    * rule with the owner held forever. State is one long per bucket —
    * the minimum any online near-dup filter must remember. */
  class BandOwnerProcessor extends StatefulProcessor[String, BandClaim, DupHit] {
    @transient private var owner: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[Long](
        "owner", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[BandClaim],
                                 timerValues: TimerValues): Iterator[DupHit] = {
      val (own, hits) =
        claimBucket(if (owner.exists()) owner.get() else -1L, key, rows)
      if (own >= 0) owner.update(own)
      hits
    }
  }

  /** [[claimBucket]]'s rule with a HORIZON: ownership lapses — and the
    * state entry is physically `remove()`d — after `ttlMs` of bucket
    * silence, so live RocksDB keys are bounded by the horizon's bucket
    * working set (ingest rate × 6 bands × horizon), constant in corpus
    * size. Each sighting re-arms the timeout (update-on-touch), so a hot
    * bucket keeps its canonical owner indefinitely while cold buckets age
    * out; a post-horizon re-arrival is readmitted as a new canonical —
    * the recall-for-memory trade, stated.
    *
    * The v1 API (`flatMapGroupsWithState` + `ProcessingTimeTimeout`),
    * not state-v2 `TTLConfig`: `TTLConfig` only FILTERS expired values on
    * read, while the v1 timeout callback is where the store actually
    * shrinks, and bounded PHYSICAL state is the horizon's purpose.
    * Operational note shared by ANY processing-time-timer operator (both
    * APIs): the operator requests a batch on every trigger, so
    * `processAllAvailable` never sees its no-work signal and
    * `Trigger.AvailableNow` never self-terminates — drive such queries
    * with a real processing-time trigger and stop them by observed
    * progress (see StreamingSpec). */
  private def bandOwnerWithHorizon(claims: Dataset[BandClaim],
      ttlMs: Long): Dataset[DupHit] = {
    implicit val outEnc = Encoders.product[DupHit]
    implicit val stEnc = Encoders.scalaLong
    claims.groupByKey(_.bkey)(Encoders.STRING)
      .flatMapGroupsWithState[Long, DupHit](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (bkey: String, rows: Iterator[BandClaim], st: GroupState[Long]) =>
          if (st.hasTimedOut) { st.remove(); Iterator.empty }
          else {
            val (own, hits) = claimBucket(st.getOption.getOrElse(-1L), bkey, rows)
            if (own >= 0) { st.update(own); st.setTimeoutDuration(ttlMs) }
            hits
          }
      }
  }

  /** The shared map-side claim pipeline: doc → 6 LSH band-bucket claims
    * (the identical native-expression chain as batch q19). */
  private def claimsOf(docs: DataFrame): Dataset[BandClaim] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.ops.{Dedup, TextAnalysis => TA}
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        Dedup.shingles3(TA.tokens(col("text"))).as("sh"))
      .select(col("doc_id"), explode(Dedup.lshBands(
        Dedup.minhashSignature(col("sh")))).as("bb"))
      .filter(col("bb.band_key").isNotNull)
      .select(concat(col("bb.band").cast("string"), lit(":"),
        col("bb.band_key")).as("bkey"), col("doc_id"))
      .as[BandClaim]
  }

  /** Streaming near-duplicate detection at INGEST — the online twin of the
    * batch MinHash-LSH dedup (q19) and the per-run incremental dedup of
    * CorpusPipeline: each arriving document claims its 6 LSH band buckets;
    * a doc whose bucket is already owned by an earlier-admitted document
    * is flagged against that owner. Emits one [[DupHit]] per colliding
    * band (consumers `dropDuplicates("doc_id")` for the doc-level flag
    * set). Shingle-less docs produce NULL band keys and are never flagged
    * — the batch pipeline's convention.
    *
    * Equivalence contract (StreamingSpec): for documents arriving in
    * doc_id order, the flagged doc set equals EXACTLY the `doc2` side of
    * batch q19's candidate pairs — the stream reproduces the batch
    * dedup's decisions one document at a time.
    *
    * At scale: band claims shuffle on the bucket key (the same equi-join
    * key the batch LSH uses), state is one long per distinct bucket in
    * the RocksDB store, and the doc text never enters state — the
    * signature pipeline is the identical native-expression chain
    * (WordShingles → MinHashSignature → lshBands) as batch, computed
    * map-side.
    *
    * `horizon` is the state bound: `None` (default) keeps
    * dedup-against-all-history — bucket-owner state grows with every
    * distinct bucket ever seen, which the r6 probe measured as ~4×
    * per-doc cost at 10× corpus (~30M RocksDB keys). `Some(d)` switches
    * to dedup-within-horizon ([[bandOwnerWithHorizon]]): a bucket silent
    * for `d` of processing time expires AND its state entry is removed,
    * so live state is bounded by the horizon's bucket working set
    * (ingest rate × 6 bands × d) — constant in corpus size, the only
    * shape that survives an unbounded firehose. Recall trade, stated: a
    * duplicate arriving more than `d` after its cluster's last sighting
    * is admitted as a new canonical, not flagged. StreamingSpec pins
    * batch parity for in-horizon arrivals and the expire-readmit
    * behavior past the horizon; see [[bandOwnerWithHorizon]] for why the
    * horizon path is the v1 state API and how to drive such a query. */
  def streamingNearDupHits(docs: DataFrame,
      horizon: Option[java.time.Duration] = None): Dataset[DupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val claims = claimsOf(docs)
    horizon match {
      case Some(d) => bandOwnerWithHorizon(claims, d.toMillis)
      case None => claims
        .groupByKey(_.bkey)(Encoders.STRING)
        .transformWithState(new BandOwnerProcessor,
          TimeMode.None(), OutputMode.Append())(Encoders.product[DupHit])
    }
  }
}
