package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.7): the reference's
  * append-only timestamped fact accumulation (repeated `main()` runs,
  * /root/reference/main.py:44,176) generalized to real streams. The batch
  * twins of these plans are oracle-checked in
  * [[graft.queries.EventQueries]]; here the same logical shapes run
  * incrementally with watermarks + state. Tested with MemoryStream
  * (EventStreamingSpec) — swap `readStream.format("kafka"|"parquet")` for
  * production sources; state is per-key and partitioned, so 1000 executors
  * scale linearly in keys.
  */
object EventStreaming {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  case class SessionUpdate(user_id: Long, n_events: Long, n_sessions: Long)

  /** Tumbling event-time windowed aggregation with a late-data watermark —
    * the streaming twin of EventQueries.hourlyWindows. Composable with
    * upstream stateful ops ([[dedupedEvents]]): redefining a watermark is
    * an AnalysisException, so one is added only if the input doesn't
    * already carry an EventTimeWatermark node.
    */
  def windowedCounts(events: DataFrame): DataFrame = {
    val hasWatermark = events.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => true
      case _ => false
    }
    (if (hasWatermark) events else events.withWatermark("ts", "2 hours"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"),
        col("n_events"),
        col("sum_value"))
  }

  /** SLIDING event-time windows with a late-data watermark — the streaming
    * twin of EventQueries.slidingWindows (1-hour windows every 15 minutes).
    * Same state model as the tumbling aggregate, ×(len/slide) window keys:
    * the overlap factor multiplies STATE rows, not input passes — each
    * event still arrives once and updates its 4 windows in place, and the
    * watermark expires a window's state once event time passes its END +
    * delay, so state stays bounded by (active span / slide) regardless of
    * stream length.
    */
  def slidingCounts(events: DataFrame): DataFrame = {
    val hasWatermark = events.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => true
      case _ => false
    }
    (if (hasWatermark) events else events.withWatermark("ts", "2 hours"))
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"),
        col("n_events"))
  }

  /** Custom per-key state: 30-minute-gap sessionization via
    * mapGroupsWithState — the streaming twin of EventQueries.sessionCounts.
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long, Long), SessionUpdate](GroupStateTimeout.NoTimeout) {
        // state = (lastTsMicros, nEvents, nSessions). MICROsecond gap
        // arithmetic, not getTime's milliseconds: the events fixture
        // carries µs-precision timestamps, and a gap landing within 1 ms
        // of the 30-minute boundary would otherwise round to "same
        // session" here while the µs-exact batch twin (and its DuckDB
        // oracle) opens a new one.
        (userId: Long, batch: Iterator[Event], state: GroupState[(Long, Long, Long)]) =>
          val gapUs = 30L * 60 * 1000 * 1000
          def micros(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000L + t.getNanos / 1000
          var (lastTs, nEvents, nSessions) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L))
          batch.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val t = micros(e.ts)
            if (lastTs == Long.MinValue || t - lastTs > gapUs) nSessions += 1
            nEvents += 1
            // never regress: an event arriving LATE (t < lastTs, i.e.
            // out-of-order across micro-batches) folds into the current
            // session without moving its end time backwards — otherwise a
            // later in-order event could falsely open a new session and the
            // stream would diverge from the globally-sorted batch twin
            lastTs = math.max(lastTs, t)
          }
          state.update((lastTs, nEvents, nSessions))
          SessionUpdate(userId, nEvents, nSessions)
      }
  }

  case class UserProfile(user_id: Long, n_events: Long, n_types: Long)

  /** Spark 4 ARBITRARY-STATE API v2 ([[StatefulProcessor]] /
    * `transformWithState` — the successor to mapGroupsWithState, and the
    * reason the parity session pins the RocksDB state store provider:
    * the API only runs on it): a per-user profile maintained in TYPED
    * state primitives — a ValueState running event count and a MapState
    * of per-type counts (each map ENTRY is its own state-store key, so a
    * high-cardinality map never serializes whole per update, the thing
    * the old API's single-blob state could not avoid). Emitted profile:
    * running totals, both monotone, so the final state is the max over
    * the update stream. TTLConfig.NONE keeps state for the stream's
    * lifetime; a production ingest monitor would pass a TTL and let the
    * store expire idle users.
    */
  class UserStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserProfile] {
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var count: ValueState[Long] = _
    @transient private var types: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      count = getHandle.getValueState[Long](
        "n_events", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      types = getHandle.getMapState[String, Long](
        "type_counts", org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(
        key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[UserProfile] = {
      var c = if (count.exists()) count.get() else 0L
      rows.foreach { e =>
        c += 1
        val prev = if (types.containsKey(e.event_type)) types.getValue(e.event_type) else 0L
        types.updateValue(e.event_type, prev + 1L)
      }
      count.update(c)
      Iterator.single(UserProfile(key, c, types.keys().size.toLong))
    }
  }

  def userStats(events: Dataset[Event]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(
        new UserStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming exact dedup — the streaming twin of X-1. State is bounded
    * by the watermark: an event_id is remembered only until its event time
    * falls behind the watermark, so state size tracks the late-data window
    * rather than the full history (the only dedup that survives an
    * unbounded stream).
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** File-based streaming source over a directory of event parquet files —
    * the production shape for micro-batch ingestion of an append-only
    * landing zone (the reference's repeated-run accumulation, main.py:176,
    * done properly). Explicit schema (streams can't infer) taken from
    * [[graft.model.Tables.schemaOf]] over the directory when files already exist,
    * then the same adaptive `ts` normalization as the batch path in
    * [[graft.model.Tables.events]] (nanos-long / TIMESTAMP_NTZ / TIMESTAMP
    * all accepted), so batch and stream plans agree regardless of how the
    * writer encoded the column. An EMPTY landing zone — the normal state
    * when the stream starts before the first micro-batch arrives — must
    * not kill the stream, so when nothing is readable yet the source falls
    * back to the contract schema ([[graft.model.Tables.eventStreamDdl]],
    * `ts` as µs TIMESTAMP_NTZ — the current generator's encoding).
    * Callers with a known divergent layout pass `schema` explicitly.
    */
  def parquetEventStream(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    graft.model.Tables.readEventsAsNanoLongs(spark)
    val resolved = schema.getOrElse {
      try graft.model.Tables.schemaOf(spark, dir)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          org.apache.spark.sql.types.StructType.fromDDL(graft.model.Tables.eventStreamDdl)
      }
    }
    graft.model.Tables.adaptEventTs(
      spark.readStream
        .schema(resolved)
        .parquet(dir))
  }

  /** Stream-stream interval join: purchases joined to EVERY click that
    * preceded them within one hour, per user — one output row per
    * qualifying (purchase, click) pair, NOT one per purchase. The batch
    * as-of join (JoinQueries.asofClickBeforePurchase) keeps only the latest
    * such click; to get the as-of semantics downstream of this stream,
    * aggregate `max(click_ts) GROUP BY purchase_id` (an extra stateful
    * stage), which is why the interval join itself is exposed unreduced.
    * Both sides carry watermarks and the join condition bounds event-time
    * distance, so Spark can expire buffered state: click state lives until
    * (click.ts + 1 hour) falls behind the purchase watermark. Inner
    * interval joins like this are the only stream-stream joins whose state
    * provably stays bounded.
    */
  def clickToPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "30 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "30 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(
      c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** As-of reduction over [[clickToPurchaseJoin]]'s interval-join output:
    * keep only the LATEST qualifying click per purchase — the streaming
    * equivalent of the batch as-of join's result
    * (JoinQueries.asofClickBeforePurchase). A second stateful stage (the
    * aggregate buffers per-purchase state until the watermark closes the
    * purchase's join window); composes as
    * `latestClickPerPurchase(clickToPurchaseJoin(clicks, purchases))`.
    */
  def latestClickPerPurchase(joined: DataFrame): DataFrame =
    joined
      .groupBy("purchase_id", "user_id", "purchase_ts", "value")
      .agg(org.apache.spark.sql.functions.max("click_ts").as("click_ts"))

  /** Stream-static enrichment: join the event stream against a static
    * (batch) dimension table — the most common production streaming join
    * (enrich facts with dims). No watermark needed on the static side; the
    * dim broadcasts per micro-batch, so 1000 executors each probe a local
    * hash table and nothing shuffles.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame, eventKey: String, dimKey: String): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(dim),
      events(eventKey) === dim(dimKey),
      "left_outer")

  /** foreachBatch parquet sink: per-micro-batch batch-mode write — the
    * production pattern when the target (parquet dir, JDBC, multiple sinks)
    * has no native streaming writer. Idempotent under micro-batch
    * re-delivery: each batch OVERWRITES its own `batch_id=N` partition
    * directory, so a batch replayed after checkpoint recovery lands on the
    * same path instead of appending duplicates. Readers get a `batch_id`
    * provenance column for free via partition discovery.
    */
  def startParquetSink(
      events: DataFrame,
      outDir: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()) =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Driver-visible [[sessionize]] parity, HASH-checked — the events-side
    * streaming family's batch-twin gate (the corpus side has
    * [[CorpusStreaming.streamBatchParity]]). The bounded user slice is
    * fed ts-ordered in three micro-batches, so the custom
    * `mapGroupsWithState` sessionizer sees in-order cross-batch arrivals;
    * its per-user state is a pure fold over the ts-ordered event sequence
    * (within-batch it sorts, across batches never-regress holds), so the
    * FINAL (n_events, n_sessions) per user — the max over the update
    * stream, both counters monotone — must equal the batch
    * lag-over-window derivation [[graft.queries.EventQueries
    * .sessionCountsOf]] exactly. The emitted one-row report carries the
    * stream-side totals plus the per-user diff count; DuckDB re-derives
    * the totals independently and asserts n_diff = 0.
    */
  def sessionStreamParity(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = graft.model.Tables.events(spark, sfDir)
      .where(col("user_id") < SessionParityUsers)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    // final state per user = max of the monotone update stream
    val streamed = CorpusStreaming.runBoundedStream(
      spark, slice.grouped(math.max(1, slice.length / 3 + 1)).map(_.toSeq).toSeq,
      outputMode = "update")(in => sessionize(in.as[Event]).toDF())
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"), max(col("n_sessions")).as("n_sessions"))
    val batch = graft.queries.EventQueries.sessionCountsOf(
      graft.model.Tables.events(spark, sfDir).where(col("user_id") < SessionParityUsers))
      .select(col("user_id"), col("n_events"), col("n_sessions"))
    val nDiff = streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
    val totals = streamed
      .agg(count(lit(1)), sum(col("n_events")), sum(col("n_sessions")))
      .collect().head
    Seq((totals.getLong(0), totals.getLong(1), totals.getLong(2), nDiff))
      .toDF("n_users", "total_events", "total_sessions", "n_diff")
  }

  val SessionParityUsers = 30L

  /** Driver-visible [[windowedCounts]] parity — the watermark + tumbling
    * window aggregate, the remaining streaming shape without a hash row
    * (dedup and sessions have theirs). Counts are commutative, so ANY
    * chunking is deterministic; the ts-ordered feed just guarantees no
    * chunk is late against the 2 h watermark. The diff runs on
    * (hour_start, event_type, n_events) — `sum_value` is a raw double
    * sum whose merge order the stream controls, exactly the
    * cross-engine-unsafe shape the repo's decimal-sum rule exists for,
    * so the hash-checked columns are the integer ones.
    */
  def windowStreamParity(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = graft.model.Tables.events(spark, sfDir)
      .where(col("user_id") < SessionParityUsers)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val streamed = CorpusStreaming.runBoundedStream(
      spark, slice.grouped(math.max(1, slice.length / 3 + 1)).map(_.toSeq).toSeq,
      outputMode = "update")(windowedCounts(_))
      .groupBy("hour_start", "event_type")
      .agg(max(col("n_events")).as("n_events")) // final update of a monotone counter
    val batch = graft.model.Tables.events(spark, sfDir)
      .where(col("user_id") < SessionParityUsers)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n_events"))
    val nDiff = streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
    val totals = streamed.agg(count(lit(1)), sum(col("n_events"))).collect().head
    Seq((totals.getLong(0), totals.getLong(1), nDiff))
      .toDF("n_windows", "total_events", "n_diff")
  }

  /** Driver-visible [[slidingCounts]] parity — the hopping-window streaming
    * shape checked the same way as the tumbling one: bounded ts-ordered
    * chunks, update mode, max of the monotone per-window counter, then an
    * exceptAll diff against the batch hop aggregate. The hash-checked
    * totals are the integer columns; `total_events` is 4× the slice's
    * event count (each event lands in len/slide = 4 windows), which the
    * oracle reproduces via the same 4-row hop expansion as
    * q_sliding_windows.
    */
  def slidingStreamParity(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val slice = graft.model.Tables.events(spark, sfDir)
      .where(col("user_id") < SessionParityUsers)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val streamed = CorpusStreaming.runBoundedStream(
      spark, slice.grouped(math.max(1, slice.length / 3 + 1)).map(_.toSeq).toSeq,
      outputMode = "update")(slidingCounts(_))
      .groupBy("win_start", "event_type")
      .agg(max(col("n_events")).as("n_events")) // final update of a monotone counter
    val batch = graft.model.Tables.events(spark, sfDir)
      .where(col("user_id") < SessionParityUsers)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n_events"))
    val nDiff = streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
    val totals = streamed.agg(count(lit(1)), sum(col("n_events"))).collect().head
    Seq((totals.getLong(0), totals.getLong(1), nDiff))
      .toDF("n_windows", "total_events", "n_diff")
  }

  /** Driver-visible [[userStats]] parity — the `transformWithState`
    * rung's hash row. Counts and distinct-type counts are commutative
    * across any chunking; the final per-user profile is the max of the
    * monotone update stream, diffed exceptAll against the batch
    * count/countDistinct twin, with DuckDB re-deriving the totals. The
    * session pins the RocksDB state store provider (the v2 API's
    * requirement — also the 100 TB posture: per-entry MapState keys land
    * as individual RocksDB keys, so state scales with active entries,
    * not serialized-blob size).
    */
  def twsStreamParity(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val slice = graft.model.Tables.events(s, sfDir)
      .where(col("user_id") < SessionParityUsers)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val streamed = CorpusStreaming.runBoundedStream(
      s, slice.grouped(math.max(1, slice.length / 3 + 1)).map(_.toSeq).toSeq,
      outputMode = "update")(in => userStats(in.as[Event]).toDF())
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"), max(col("n_types")).as("n_types"))
    val batch = graft.model.Tables.events(s, sfDir)
      .where(col("user_id") < SessionParityUsers)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("event_type")).as("n_types"))
    val nDiff = streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
    val totals = streamed
      .agg(count(lit(1)), sum(col("n_events")), sum(col("n_types")))
      .collect().head
    Seq((totals.getLong(0), totals.getLong(1), totals.getLong(2), nDiff))
      .toDF("n_users", "total_events", "total_types", "n_diff")
  }

  lazy val twsStreamParitySql: String =
    s"""WITH pu AS (
       |  SELECT user_id, COUNT(*) AS n_events,
       |         COUNT(DISTINCT event_type) AS n_types
       |  FROM events WHERE user_id < $SessionParityUsers GROUP BY user_id)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       |       CAST(SUM(n_events) AS BIGINT) AS total_events,
       |       CAST(SUM(n_types) AS BIGINT) AS total_types,
       |       CAST(0 AS BIGINT) AS n_diff
       |FROM pu""".stripMargin

  lazy val slidingStreamParitySql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_windows,
       |       CAST(SUM(n) AS BIGINT) AS total_events,
       |       CAST(0 AS BIGINT) AS n_diff
       |FROM (SELECT time_bucket(INTERVAL '15 minutes', ts)
       |               - j.k * INTERVAL '15 minutes' AS ws,
       |             event_type, COUNT(*) AS n
       |      FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS j(k)
       |      WHERE user_id < $SessionParityUsers GROUP BY 1, 2)""".stripMargin

  lazy val windowStreamParitySql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_windows,
       |       CAST(SUM(n) AS BIGINT) AS total_events,
       |       CAST(0 AS BIGINT) AS n_diff
       |FROM (SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type, COUNT(*) AS n
       |      FROM events WHERE user_id < $SessionParityUsers GROUP BY 1, 2)""".stripMargin

  lazy val sessionStreamParitySql: String =
    s"""WITH g AS (
       |  SELECT user_id,
       |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       |                OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |                       + INTERVAL '30 minutes'
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM events WHERE user_id < $SessionParityUsers),
       |pu AS (
       |  SELECT user_id, COUNT(*) AS n_events, SUM(new_session) AS n_sessions
       |  FROM g GROUP BY user_id)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       |       CAST(SUM(n_events) AS BIGINT) AS total_events,
       |       CAST(SUM(n_sessions) AS BIGINT) AS total_sessions,
       |       CAST(0 AS BIGINT) AS n_diff
       |FROM pu""".stripMargin

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
    "s_session_stream_parity" -> (sessionStreamParity _),
    "s_window_stream_parity" -> (windowStreamParity _),
    "s_sliding_stream_parity" -> (slidingStreamParity _),
    "s_tws_stream_parity" -> (twsStreamParity _))

  val oracle: Map[String, String] = Map(
    "s_session_stream_parity" -> sessionStreamParitySql,
    "s_window_stream_parity" -> windowStreamParitySql,
    "s_sliding_stream_parity" -> slidingStreamParitySql,
    "s_tws_stream_parity" -> twsStreamParitySql)
}
