package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Tables}

/** Output row of the custom-state operator (top-level for encoders). */
case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

/** Spark 4 `transformWithState` processor backing
  * [[StreamOps.runningUserTotalsTws]]: the same per-user running
  * (count, sum) as the mapGroupsWithState path, expressed in the new
  * StatefulProcessor API — typed named state registered in init,
  * batched input rows per key, explicit TTL hooks (none here). The
  * two implementations are asserted equivalent in StreamingSpec.
  */
class RunningTotalsProcessor
    extends StatefulProcessor[Long, (Long, Double), UserRunning] {

  @transient private var totals: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Double)](
      "totals", Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
      TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[UserRunning] = {
    var (n, total) = if (totals.exists()) totals.get() else (0L, 0.0)
    rows.foreach { case (_, v) => n += 1; total += v }
    totals.update((n, total))
    Iterator(UserRunning(key, n, math.round(total * 100) / 100.0))
  }
}

/** Output row of [[CmsShardProcessor]] (top-level for encoders). */
case class ShardSketch(shard: Int, sketch: Array[Long])

/** Sharded streaming Count–Min sketch: each shard key maintains its
  * own [[graft.functions.TypedAggregators.CountMinSketch]]-shaped
  * counter array in a ValueState and re-emits it after every batch.
  * Sharding (token hash mod N) is the scale design — state updates
  * parallelize over shards instead of funneling one global key
  * through one task — and costs nothing at read time because CMS is
  * a LINEAR sketch: the global sketch is the elementwise sum of the
  * shard sketches, bit-identical to a batch sketch over the same
  * multiset (StreamingSpec pins exactly that identity across
  * micro-batch splits).
  */
class CmsShardProcessor
    extends StatefulProcessor[Int, (Int, String), ShardSketch] {

  import graft.functions.TypedAggregators.{CmsDepth, CmsWidth, cmsIndex}

  @transient private var state: ValueState[Array[Long]] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[Array[Long]]("cms",
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](),
      TTLConfig.NONE)

  override def handleInputRows(
      key: Int,
      rows: Iterator[(Int, String)],
      timerValues: TimerValues): Iterator[ShardSketch] = {
    val sk = if (state.exists()) state.get()
      else new Array[Long](CmsWidth * CmsDepth)
    rows.foreach { case (_, w) =>
      var d = 0
      while (d < CmsDepth) { sk(d * CmsWidth + cmsIndex(w, d)) += 1; d += 1 }
    }
    state.update(sk)
    Iterator(ShardSketch(key, sk.clone()))
  }
}

/** Output row of [[TypeCountsProcessor]] (top-level for encoders). */
case class UserTypeCounts(
    user_id: Long, event_type: String, n_type: Long,
    n_recent: Long, recent_sum: Double)

/** Composite-state processor covering the two remaining Spark 4 state
  * kinds: a MapState keyed by event type (per-user per-type running
  * counts — the map key is a SECOND key level the store indexes, so a
  * hot user's types never serialize as one blob the way a
  * ValueState[Map] would) and a ListState holding the user's last
  * [[TypeCountsProcessor.RecentK]] values (a bounded recency buffer,
  * trimmed on write so state size is K, not event count). "Last"
  * means EVENT TIME across the whole stream, not arrival order: the
  * buffer stores (ts, value) pairs and every write merges state with
  * the batch and re-sorts by (ts, value) before trimming, so the kept
  * suffix is identical under any source partitioning AND any split of
  * the same events into micro-batches — replay-deterministic, with
  * (ts, value) ties interchangeable by construction. Emits one row
  * per type TOUCHED in the batch — update-mode semantics, same as
  * [[RunningTotalsProcessor]].
  */
class TypeCountsProcessor
    extends StatefulProcessor[Long, (Long, String, Double, java.sql.Timestamp), UserTypeCounts] {
  import org.apache.spark.sql.streaming.{ListState, MapState}

  @transient private var counts: MapState[String, Long] = _
  @transient private var recent: ListState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    counts = getHandle.getMapState[String, Long](
      "type_counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    recent = getHandle.getListState[(Long, Double)](
      "recent", Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
      TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, String, Double, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[UserTypeCounts] = {
    val batch = rows.toVector.sortBy { case (_, et, v, t) => (t.getTime, et, v) }
    val touched = scala.collection.mutable.LinkedHashSet[String]()
    batch.foreach { case (_, et, _, _) =>
      val cur = if (counts.containsKey(et)) counts.getValue(et) else 0L
      counts.updateValue(et, cur + 1)
      touched += et
    }
    // merge-and-resort: state holds ≤K pairs, so this is O(K + batch)
    val buf = (recent.get().toVector ++
      batch.map { case (_, _, v, t) => (t.getTime, v) })
      .sorted
      .takeRight(TypeCountsProcessor.RecentK)
    recent.put(buf.toArray)
    val vals = buf.map(_._2)
    val rs = math.round(vals.sum * 100) / 100.0
    touched.iterator.map(et =>
      UserTypeCounts(key, et, counts.getValue(et), vals.size.toLong, rs))
  }
}

object TypeCountsProcessor { val RecentK = 5 }

/** Closed-session summary emitted by [[SessionTimeoutProcessor]]
  * when a user's event-time timer expires.
  */
case class SessionClosed(user_id: Long, n_events: Long, total_value: Double)

/** Timer-driven session close on the transformWithState API: each
  * input batch extends the user's running (count, sum) and re-arms an
  * EVENT-TIME timer at lastEvent + gap; when the watermark passes the
  * timer, [[handleExpiredTimer]] emits the closed session exactly
  * once and clears state. This is the push-based complement to
  * [[StreamOps.sessionStream]]'s session_window aggregation — the
  * processor shape a pipeline uses when session close must trigger an
  * ACTION (emit to a queue, score, expire a cache), not just land in
  * an aggregate. State is one (n, sum, timerMs) triple per live user:
  * bounded by concurrent sessions, not corpus size.
  */
class SessionTimeoutProcessor(gapMs: Long)
    extends StatefulProcessor[Long, (Long, Double, java.sql.Timestamp), SessionClosed] {

  @transient private var agg: ValueState[(Long, Double, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    agg = getHandle.getValueState[(Long, Double, Long)](
      "agg",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Double, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[SessionClosed] = {
    // timer existence = state existence (a live session always has
    // exactly one armed timer), never a sign test on the stored max —
    // epoch-0 or pre-epoch event times are legal timestamps, and
    // overloading them as the no-state sentinel would leak a stale
    // timer that fires early and double-emits the session
    val hadState = agg.exists()
    var (n, total, maxTs) =
      if (hadState) agg.get() else (0L, 0.0, Long.MinValue)
    val oldTimer = if (hadState) maxTs + gapMs else Long.MinValue
    // state carries the session's MAX event time, not the timer: a
    // late (within-watermark) batch must never move the timer
    // EARLIER — "gap after the last event" means the max over all
    // events seen, and out-of-order delivery makes the current
    // batch's max smaller than the stored one
    rows.foreach { case (_, v, t) =>
      n += 1; total += v; maxTs = math.max(maxTs, t.getTime)
    }
    // one live timer per key: re-arm instead of accumulating
    if (hadState) getHandle.deleteTimer(oldTimer)
    getHandle.registerTimer(maxTs + gapMs)
    agg.update((n, total, maxTs))
    Iterator.empty
  }

  override def handleExpiredTimer(
      key: Long,
      timerValues: TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionClosed] = {
    val out =
      if (agg.exists()) {
        val (n, total, _) = agg.get()
        Iterator.single(SessionClosed(key, n, math.round(total * 100) / 100.0))
      } else Iterator.empty
    agg.clear()
    out
  }
}

/** Structured Streaming surface (SURVEY.md §2.4: the reference has no
  * streaming at all — this is part of the capability gap our engine
  * closes). Each window shape is ONE transform function that accepts
  * either a batch or a streaming DataFrame:
  *
  *  - the batch twin runs over the `events` fixture and is
  *    differentially checked against a DuckDB oracle (tumbling →
  *    time_bucket; sliding → each event unnested into its two
  *    windows; session → gaps-and-islands);
  *  - the SAME function under `readStream` (MemoryStream in
  *    StreamingSpec) exercises watermarks, incremental triggers, and
  *    late-data drop — semantics the oracle can't see.
  *
  * Value sums go through DECIMAL(18,2) so results are independent of
  * partition/accumulation order — same contract as the batch ops.
  */
object StreamOps {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Tumbling 1-hour windows per event type. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total"))

  /** Sliding 1-hour windows every 30 minutes (each event in 2 windows). */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total"))

  /** Session windows per user, 30-minute inactivity gap. Spark's
    * session end = last event + gap; the oracle mirrors that.
    */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"), col("n"))

  /** Trending top-3 event types per sliding window — the "what's hot
    * right now" leaderboard over [[slidingAgg]]'s counts. The rank
    * window partitions by window-start, so state is |event_types| per
    * window — tiny at any scale. In streaming form the rank runs in
    * foreachBatch over the windowed aggregate (rank is not an
    * incremental operator); the batch twin here is the oracle-checked
    * semantics both share.
    */
  def trendingTopk(s: SparkSession, dir: String): DataFrame =
    rankWindows(slidingAgg(Tables.events(s, dir)))

  /** The streaming forms: same logic, plus an event-time watermark so
    * state can be evicted and late data (beyond 1 hour) dropped.
    * Used with readStream sources; exercised in StreamingSpec.
    */
  def tumblingStream(events: DataFrame): DataFrame =
    tumblingAgg(events.withWatermark("ts", "1 hour"))

  def slidingStream(events: DataFrame): DataFrame =
    slidingAgg(events.withWatermark("ts", "1 hour"))

  /** The rank step of [[trendingTopk]] alone, for foreachBatch use on
    * a streaming windowed aggregate (rank is not incremental, so in
    * streaming it runs per micro-batch over the updated windows).
    */
  def rankWindows(counts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ws"))
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("ws"), col("event_type"), col("n"), col("rank"))
  }

  def sessionStream(events: DataFrame): DataFrame =
    sessionAgg(events.withWatermark("ts", "1 hour"))

  /** Streaming exact deduplication — the ingestion-time half of the
    * dedup story (graft.dedup handles the at-rest corpus): duplicates
    * of a key arriving within the watermark horizon are dropped, and
    * the key's state is evicted once the watermark passes it, so
    * state is bounded by the horizon × arrival rate — never the full
    * stream history (which a bare `dropDuplicates` would keep).
    */
  def dedupStream(events: DataFrame, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment join — the ingestion-time dimension
    * lookup (reference analog: none; SURVEY §2.4 streaming row): each
    * micro-batch of facts joins a broadcast dimension snapshot, then
    * rolls up revenue per (hour, market segment). The dim side is
    * re-resolvable per micro-batch (Spark re-plans stream-static
    * joins every trigger), so a slowly-changing dimension is picked
    * up without restarting the query. No join state at all — the only
    * streaming state is the windowed aggregate, evicted by the
    * watermark. At 100 TB/day the dim stays broadcast-sized
    * (customers, not events); the fact side never shuffles for the
    * join.
    */
  def enrichAgg(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(
        broadcast(dim.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total"))
      .select(col("window.start").as("ws"), col("c_mktsegment").as("segment"),
        col("n"), col("total"))

  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    enrichAgg(events.withWatermark("ts", "1 hour"), dim)

  /** Stream-stream interval join — clicks matched to the views they
    * produced within the following hour (the ad-attribution shape).
    * Pure column logic shared by the oracled batch twin and the
    * streaming form; the streaming caller puts event-time watermarks
    * on BOTH inputs first, which together with the time-range
    * predicate bounds the join state: a buffered click is evictable
    * once the watermark passes click_ts + 1h, a buffered view once it
    * passes view_ts. State is horizon × arrival rate — never stream
    * history. `left_outer` additionally emits the null-padded click
    * exactly when the watermark proves no matching view can still
    * arrive (asserted in StreamingSpec, including state eviction via
    * query progress).
    */
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val c = clicks.select(col("user_id"), col("event_id").as("click_id"),
      col("ts").as("click_ts"))
    val v = views.select(col("user_id").as("v_user_id"),
      col("event_id").as("view_id"), col("ts").as("view_ts"))
    c.join(v,
        col("user_id") === col("v_user_id") &&
          col("view_ts") >= col("click_ts") &&
          col("view_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        joinType)
      .select(col("user_id"), col("click_id"), col("view_id"))
  }

  def clickViewStream(clicks: DataFrame, views: DataFrame,
      joinType: String = "inner"): DataFrame =
    clickViewJoin(
      clicks.withWatermark("ts", "30 minutes"),
      views.withWatermark("ts", "30 minutes"), joinType)

  private def eventsByType(s: SparkSession, dir: String, t: String): DataFrame =
    Tables.events(s, dir).filter(col("event_type") === t)

  def streamEnrich(s: SparkSession, dir: String): DataFrame =
    enrichAgg(Tables.events(s, dir), Tables.customer(s, dir))

  def streamIntervalJoin(s: SparkSession, dir: String): DataFrame =
    clickViewJoin(eventsByType(s, dir, "click"), eventsByType(s, dir, "view"))

  def streamIntervalJoinOuter(s: SparkSession, dir: String): DataFrame =
    clickViewJoin(eventsByType(s, dir, "click"), eventsByType(s, dir, "view"),
      "left_outer")

  /** Custom arbitrary state — `mapGroupsWithState` (SURVEY.md §2.4):
    * a per-user running (count, sum) that persists across micro-batch
    * triggers, the state shape the built-in window aggregations can't
    * express. Works on batch input too (state spans the one batch).
    * At scale state lives in the state store, partitioned by the
    * group key — no driver involvement.
    */
  def runningUserTotals(events: DataFrame): Dataset[UserRunning] = {
    val s = events.sparkSession
    import s.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), UserRunning](GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          var (n, total) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { case (_, v) => n += 1; total += v }
          state.update((n, total))
          // round: double accumulation order is per-state sequential,
          // deterministic within the stream but not vs SQL — this op
          // is spec-tested, not oracled
          UserRunning(uid, n, math.round(total * 100) / 100.0)
      }
  }

  /** Streaming sharded CMS over a token column (see
    * [[graft.stream.CmsShardProcessor]]); `shards` keys spread the
    * state updates, and summing the latest emitted sketches
    * reconstructs the exact global sketch.
    */
  def cmsShardStream(tokens: DataFrame, shards: Int): Dataset[ShardSketch] = {
    val s = tokens.sparkSession
    import s.implicits._
    tokens.selectExpr(s"pmod(hash(tok), $shards) AS shard", "tok")
      .as[(Int, String)]
      .groupByKey(_._1)
      .transformWithState(new CmsShardProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** [[runningUserTotals]] on the Spark 4 transformWithState API —
    * the successor to mapGroupsWithState: named state slots with
    * per-slot encoders and TTL, timer callbacks, and a state store
    * that must be RocksDB-backed (set
    * `spark.sql.streaming.stateStore.providerClass` to the RocksDB
    * provider). Streaming-only by design (the API rejects batch
    * frames); the legacy operator remains the batch-capable form.
    */
  def runningUserTotalsTws(events: DataFrame): Dataset[UserRunning] = {
    val s = events.sparkSession
    import s.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** [[TypeCountsProcessor]] runner: per-user per-type counts in
    * MapState plus a bounded recent-values ListState. Streaming-only,
    * like the other transformWithState paths.
    */
  def userTypeCountsTws(events: DataFrame): Dataset[UserTypeCounts] = {
    val s = events.sparkSession
    import s.implicits._
    events.selectExpr("user_id", "event_type", "value", "ts")
      .as[(Long, String, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** [[SessionTimeoutProcessor]] over a watermarked stream: sessions
    * close (and emit) when event time advances `gap` past a user's
    * last event. Streaming-only (timers require TimeMode.EventTime);
    * the batch-checkable twin of the same semantics is
    * [[eventsSession]] / sessionAgg.
    */
  def sessionTimeoutStream(
      events: DataFrame, gapMs: Long = 30L * 60 * 1000,
      watermark: String = "0 seconds"): Dataset[SessionClosed] = {
    val s = events.sparkSession
    import s.implicits._
    events.withWatermark("ts", watermark)
      .selectExpr("user_id", "value", "ts")
      .as[(Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimeoutProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming side of the drift monitor: the incoming metric stream
    * binned against REFERENCE-snapshot decile boundaries riding as
    * plan literals (the [[graft.ops.Maintenance.psiDrift]]
    * discipline, shared bucket rule via
    * [[graft.ops.Aggregates.bucketByBoundaries]]) in one streaming
    * aggregate — update mode re-emits the revised bucket counts each
    * micro-batch, and scoring p_cur against p_ref is a
    * foreachBatch/model-side step over the B-row frame. State is
    * exactly B counters regardless of stream length — the
    * watermark-free aggregate that CAN run forever.
    */
  def driftBucketStream(values: DataFrame, boundaries: Seq[Double]): DataFrame =
    values.groupBy(
        graft.ops.Aggregates.bucketByBoundaries(col("value"), boundaries)
          .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_cur"))

  def eventsTumbling(s: SparkSession, dir: String): DataFrame =
    tumblingAgg(Tables.events(s, dir))

  def eventsSliding(s: SparkSession, dir: String): DataFrame =
    slidingAgg(Tables.events(s, dir))

  def eventsSession(s: SparkSession, dir: String): DataFrame =
    sessionAgg(Tables.events(s, dir))

  /** Cohort retention — users grouped by first-seen day, counted per
    * day-offset of subsequent activity. Two aggregations: first-day
    * per user (broadcastable at fixture scale, shuffle-join on
    * user_id at 100 TB), then distinct (user, offset) counts.
    */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("ts"))
    val firstDay = e.groupBy(col("user_id"))
      .agg(date_trunc("day", min(col("ts"))).as("cohort"))
    e.join(firstDay, Seq("user_id"))
      .select(col("user_id"), col("cohort"),
        datediff(date_trunc("day", col("ts")), col("cohort")).as("day_offset"))
      .distinct()
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  val all: Seq[Q] = Seq(
    Q("stream_enrich",
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(e.ts AS TIMESTAMP)) AS ws,
        |  c.c_mktsegment AS segment, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin)(streamEnrich),
    Q("stream_interval_join",
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
        |  v.event_id AS view_id
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        | AND CAST(v.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        | AND CAST(v.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR
        |WHERE c.event_type = 'click' AND v.event_type = 'view'""".stripMargin)(
      streamIntervalJoin),
    Q("stream_interval_join_outer",
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
        |  v.event_id AS view_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND CAST(v.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        | AND CAST(v.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR""".stripMargin)(
      streamIntervalJoinOuter),
    Q("events_retention",
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |first_day AS (
        |  SELECT user_id, date_trunc('day', MIN(ts)) AS cohort FROM e GROUP BY 1),
        |activity AS (
        |  SELECT DISTINCT e.user_id, fd.cohort,
        |    datediff('day', fd.cohort, date_trunc('day', e.ts)) AS day_offset
        |  FROM e JOIN first_day fd ON e.user_id = fd.user_id)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day, day_offset,
        |  COUNT(*) AS n_users
        |FROM activity GROUP BY 1, 2""".stripMargin)(eventsRetention),
    Q("events_tumbling",
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS ws,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin)(eventsTumbling),
    Q("events_sliding",
      """SELECT ws, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (
        |  SELECT unnest([
        |      time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)),
        |      time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTE
        |    ]) AS ws, event_type, value
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin)(eventsSliding),
    Q("trending_topk",
      """WITH s AS (
        |  SELECT ws, event_type, COUNT(*) AS n
        |  FROM (
        |    SELECT unnest([
        |        time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)),
        |        time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTE
        |      ]) AS ws, event_type
        |    FROM events)
        |  GROUP BY 1, 2)
        |SELECT ws, event_type, n, rank FROM (
        |  SELECT ws, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY ws
        |      ORDER BY n DESC, event_type) AS BIGINT) AS rank
        |  FROM s)
        |WHERE rank <= 3""".stripMargin)(trendingTopk),
    Q("events_session",
      // both islanding windows order by (ts, event_id): with a bare
      // ORDER BY ts, duplicate timestamps make the ROWS running sum's
      // tie order arbitrary and a brk row can split its own duplicate
      // group across sessions (caught by the 10×-facts sweep, whose
      // copies duplicate every (user, ts)); Spark's session_window is
      // tie-robust, so only the oracle needed the total order
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end, user_id, COUNT(*) AS n
        |FROM s GROUP BY user_id, sid""".stripMargin)(eventsSession),
  )
}
