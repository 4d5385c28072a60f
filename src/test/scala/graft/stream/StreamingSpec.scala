package graft.stream

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Top-level so Spark can derive an Encoder (inner classes need an
  * outer-scope instance).
  */
case class Ev(ts: Timestamp, event_type: String, value: Double, user_id: Long)

/** Event row with an id, for the stream-stream join specs. */
case class EvI(event_id: Long, ts: Timestamp, event_type: String,
    value: Double, user_id: Long)

/** An arriving document, for the streaming near-dup ingest spec. */
case class NewDoc(doc_id: Long, text: String, ts: Timestamp)

/** Streaming semantics the batch-twin oracles can't see: incremental
  * processing over MemoryStream, watermark advancement, and late-data
  * drop. The transforms under test are the same functions the oracled
  * batch queries use (StreamOps.tumblingAgg / sessionAgg).
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling stream equals batch twin on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Ev(ts("2024-01-01 00:10:00"), "click", 1.0, 1),
      Ev(ts("2024-01-01 00:40:00"), "click", 2.0, 1),
      Ev(ts("2024-01-01 01:10:00"), "view", 3.0, 2),
      Ev(ts("2024-01-01 02:05:00"), "click", 4.0, 3))
    val stream = MemoryStream[Ev]
    val q = StreamOps.tumblingStream(stream.toDF())
      .writeStream.format("memory").queryName("tumbling_t")
      .outputMode("update").start()
    try {
      stream.addData(events: _*)
      q.processAllAvailable()
      val got = spark.table("tumbling_t")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val expected = StreamOps.tumblingAgg(events.toDF())
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("file-source stream ingests files dropped into the directory mid-stream") {
    // the poll-a-directory ingestion pattern: a readStream over a
    // directory of json files, with a second file landing only after
    // the first micro-batch has been processed. Files are staged
    // outside the watched directory and moved in atomically (the
    // FileStreamSource contract; it also skips dot/underscore names).
    val dir = java.nio.file.Files.createTempDirectory("graft-fstream").toFile
    val stage = java.nio.file.Files.createTempDirectory("graft-fstage")
    def drop(name: String, lines: Seq[String]): Unit = {
      val tmp = stage.resolve(name)
      java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, new java.io.File(dir, name).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val src = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE, user_id BIGINT")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .json(dir.getAbsolutePath)
    val q = StreamOps.tumblingStream(src)
      .writeStream.format("memory").queryName("file_stream")
      .outputMode("update").start()
    def ev(t: String, et: String, v: Double, u: Long): String =
      s"""{"ts":"$t","event_type":"$et","value":$v,"user_id":$u}"""
    try {
      drop("b1.json", Seq(
        ev("2024-01-01 00:10:00", "click", 1.0, 1),
        ev("2024-01-01 00:40:00", "click", 2.0, 1)))
      q.processAllAvailable()
      val afterB1 = spark.table("file_stream")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(afterB1 == Set((ts("2024-01-01 00:00:00"), "click", 2L, 3.0)),
        s"first file not aggregated: $afterB1")
      // second file arrives mid-stream: same window extends, new one opens
      drop("b2.json", Seq(
        ev("2024-01-01 00:50:00", "click", 4.0, 2),
        ev("2024-01-01 01:10:00", "view", 8.0, 2)))
      q.processAllAvailable()
      val latest = spark.table("file_stream")
        .groupBy("ws", "event_type").agg(max("n").as("n"), max("total").as("t"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(latest == Set(
        (ts("2024-01-01 00:00:00"), "click", 3L, 7.0),
        (ts("2024-01-01 01:00:00"), "view", 1L, 8.0)),
        s"mid-stream file not picked up: $latest")
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = StreamOps.tumblingStream(stream.toDF())
      .writeStream.format("memory").queryName("tumbling_late")
      .outputMode("update").start()
    try {
      stream.addData(Ev(ts("2024-01-01 00:10:00"), "click", 1.0, 1))
      q.processAllAvailable()
      // advance event time → watermark moves to 03:00 − 1h = 02:00
      stream.addData(Ev(ts("2024-01-01 03:00:00"), "click", 1.0, 1))
      q.processAllAvailable()
      // two stragglers: one inside the watermark, one beyond it
      stream.addData(
        Ev(ts("2024-01-01 02:30:00"), "click", 1.0, 1), // accepted
        Ev(ts("2024-01-01 00:20:00"), "click", 9.0, 1)) // dropped (< 02:00)
      q.processAllAvailable()
      val w0 = spark.table("tumbling_late")
        .filter(col("ws") === ts("2024-01-01 00:00:00")).collect()
      // only the first event ever lands in window 00:00 — the update
      // for the dropped straggler must not exist
      assert(w0.map(r => (r.getLong(2), r.getDouble(3))).toSet == Set((1L, 1.0)))
      val w230 = spark.table("tumbling_late")
        .filter(col("ws") === ts("2024-01-01 02:00:00")).collect()
      assert(w230.nonEmpty, "in-watermark straggler must be aggregated")
    } finally q.stop()
  }

  test("mapGroupsWithState keeps per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = StreamOps.runningUserTotals(stream.toDF())
      .writeStream.format("memory").queryName("running_t")
      .outputMode("update").start()
    try {
      stream.addData(
        Ev(ts("2024-01-01 00:00:00"), "click", 1.5, 1),
        Ev(ts("2024-01-01 00:01:00"), "click", 2.5, 1),
        Ev(ts("2024-01-01 00:02:00"), "view", 10.0, 2))
      q.processAllAvailable()
      // second trigger: state for user 1 must carry over
      stream.addData(Ev(ts("2024-01-01 00:03:00"), "click", 6.0, 1))
      q.processAllAvailable()
      val latest = spark.table("running_t")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(latest == Set((1L, 3L, 10.0), (2L, 1L, 10.0)))
    } finally q.stop()
  }

  test("transformWithState running totals carry state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // the new API requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[Ev]
    val q = StreamOps.runningUserTotalsTws(stream.toDF())
      .writeStream.format("memory").queryName("tws_t")
      .outputMode("update").start()
    try {
      stream.addData(
        Ev(ts("2024-01-01 00:00:00"), "click", 1.5, 1),
        Ev(ts("2024-01-01 00:01:00"), "click", 2.5, 1),
        Ev(ts("2024-01-01 00:02:00"), "view", 10.0, 2))
      q.processAllAvailable()
      stream.addData(Ev(ts("2024-01-01 00:03:00"), "click", 6.0, 1))
      q.processAllAvailable()
      val latest = spark.table("tws_t")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // identical to the mapGroupsWithState result on the same data
      assert(latest == Set((1L, 3L, 10.0), (2L, 1L, 10.0)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("MapState/ListState: per-type counts index by map key, recency buffer stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[Ev]
    val q = StreamOps.userTypeCountsTws(stream.toDF())
      .writeStream.format("memory").queryName("tws_types")
      .outputMode("update").start()
    try {
      stream.addData(
        Ev(ts("2024-01-01 00:00:00"), "click", 1.0, 1),
        Ev(ts("2024-01-01 00:01:00"), "view", 2.0, 1),
        Ev(ts("2024-01-01 00:02:00"), "click", 3.0, 1))
      q.processAllAvailable()
      // batch 2: counts must extend batch-1 state per map key, and the
      // 7 total values must trim to the last RecentK = 5
      stream.addData(
        Ev(ts("2024-01-01 00:03:00"), "click", 4.0, 1),
        Ev(ts("2024-01-01 00:04:00"), "purchase", 5.0, 1),
        Ev(ts("2024-01-01 00:05:00"), "click", 6.0, 1),
        Ev(ts("2024-01-01 00:06:00"), "view", 7.0, 1))
      q.processAllAvailable()
      val latest = spark.table("tws_types")
        .groupBy("event_type").agg(
          max("n_type").as("n"), max("n_recent").as("nr"), max("recent_sum").as("rs"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      // counts: click 4, view 2, purchase 1; recent buffer = last 5
      // values (3,4,5,6,7) → 25.0
      assert(latest == Set(
        ("click", 4L, 5L, 25.0), ("view", 2L, 5L, 25.0), ("purchase", 1L, 5L, 25.0)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("recency buffer keeps the last K by EVENT time across out-of-order batches") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[Ev]
    val q = StreamOps.userTypeCountsTws(stream.toDF())
      .writeStream.format("memory").queryName("tws_ooo")
      .outputMode("update").start()
    try {
      // the event-time-LATEST value arrives in the FIRST batch; five
      // event-time-earlier values arrive in the second. Arrival-order
      // state would evict the ts-00:05 value (sum 15); event-time
      // ordering must keep it and evict the ts-00:00 one (sum 24).
      stream.addData(Ev(ts("2024-01-01 00:05:00"), "click", 10.0, 1))
      q.processAllAvailable()
      stream.addData(
        Ev(ts("2024-01-01 00:00:00"), "click", 1.0, 1),
        Ev(ts("2024-01-01 00:01:00"), "click", 2.0, 1),
        Ev(ts("2024-01-01 00:02:00"), "click", 3.0, 1),
        Ev(ts("2024-01-01 00:03:00"), "click", 4.0, 1),
        Ev(ts("2024-01-01 00:04:00"), "click", 5.0, 1))
      q.processAllAvailable()
      val last = spark.table("tws_ooo")
        .orderBy(col("n_type").desc).limit(1)
        .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4))).head
      assert(last == ((6L, 5L, 24.0)),
        s"buffer not event-time ordered across batches: $last")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("event-time timers close sessions when the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[Ev]
    // 30-min gap; zero watermark delay so event time advances directly
    val q = StreamOps.sessionTimeoutStream(stream.toDF())
      .writeStream.format("memory").queryName("sess_timer")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart — one session; user 2 keeps
      // the stream (and watermark) moving
      stream.addData(
        Ev(ts("2024-01-01 00:00:00"), "click", 1.5, 1),
        Ev(ts("2024-01-01 00:10:00"), "click", 2.5, 1))
      q.processAllAvailable()
      // nothing closed yet: watermark is only at 00:10
      assert(spark.table("sess_timer").count() == 0)
      // an event >30 min later (other user) pushes the watermark past
      // user 1's timer (00:40) → their session closes and emits once
      stream.addData(Ev(ts("2024-01-01 01:00:00"), "view", 9.0, 2))
      q.processAllAvailable()
      stream.addData(Ev(ts("2024-01-01 02:00:00"), "view", 1.0, 2))
      q.processAllAvailable()
      val rows = spark.table("sess_timer")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains((1L, 2L, 4.0)),
        s"user 1 session not closed: $rows")
      assert(rows.count(_._1 == 1L) == 1, "session emitted more than once")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("a late in-watermark batch must not pull the session timer earlier") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[Ev]
    // 15-min watermark delay so late events are ACCEPTED; the timer
    // must stay at max-event-time + gap, not current-batch-max + gap
    val q = StreamOps.sessionTimeoutStream(stream.toDF(), watermark = "15 minutes")
      .writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    try {
      stream.addData(Ev(ts("2024-01-01 00:20:00"), "click", 1.0, 1))
      q.processAllAvailable()
      // late but within watermark: would re-arm to 00:36 under the
      // current-batch-max bug (real deadline is 00:20 + 30min = 00:50)
      stream.addData(Ev(ts("2024-01-01 00:06:00"), "click", 2.0, 1))
      q.processAllAvailable()
      stream.addData(Ev(ts("2024-01-01 00:55:00"), "view", 0.0, 2)) // wm → 00:40
      q.processAllAvailable()
      // on time at 00:45 (< 00:50): same session under correct timing;
      // under the bug the session already closed at wm 00:40 > 00:36
      stream.addData(Ev(ts("2024-01-01 00:45:00"), "click", 4.0, 1))
      q.processAllAvailable()
      stream.addData(Ev(ts("2024-01-01 02:00:00"), "view", 0.0, 2)) // wm → 01:45
      q.processAllAvailable()
      stream.addData(Ev(ts("2024-01-01 03:00:00"), "view", 0.0, 2))
      q.processAllAvailable()
      val u1 = spark.table("sess_late").filter("user_id = 1")
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(u1 == Seq((3L, 7.0)),
        s"expected ONE 3-event session for user 1, got $u1")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-static join enriches events against a dimension table") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val stream = MemoryStream[Ev]
    val q = stream.toDF().join(dim, Seq("user_id"), "left")
      .select(col("user_id"), col("event_type"), col("tier"))
      .writeStream.format("memory").queryName("enriched_t")
      .outputMode("append").start()
    try {
      stream.addData(
        Ev(ts("2024-01-01 00:00:00"), "click", 1.0, 1),
        Ev(ts("2024-01-01 00:01:00"), "view", 1.0, 3)) // no dim row
      q.processAllAvailable()
      val rows = spark.table("enriched_t").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
      assert(rows == Set((1L, "click", Some("gold")), (3L, "view", None)))
    } finally q.stop()
  }

  test("stream-stream join pairs events within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr}
    val clicks = MemoryStream[Ev]
    val views = MemoryStream[Ev]
    val left = clicks.toDF().selectExpr("user_id", "ts AS click_ts")
      .withWatermark("click_ts", "1 hour")
    val right = views.toDF().selectExpr("user_id AS v_user", "ts AS view_ts")
      .withWatermark("view_ts", "1 hour")
    val q = left.join(right,
        col("user_id") === col("v_user") &&
          expr("view_ts BETWEEN click_ts AND click_ts + INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_ts"), col("view_ts"))
      .writeStream.format("memory").queryName("ss_join_t")
      .outputMode("append").start()
    try {
      clicks.addData(Ev(ts("2024-01-01 00:00:00"), "click", 1.0, 1))
      views.addData(
        Ev(ts("2024-01-01 00:10:00"), "view", 1.0, 1), // within 30 min → joins
        Ev(ts("2024-01-01 00:50:00"), "view", 1.0, 1)) // outside → dropped
      q.processAllAvailable()
      // advance both watermarks so results finalize in append mode
      clicks.addData(Ev(ts("2024-01-01 03:00:00"), "click", 1.0, 9))
      views.addData(Ev(ts("2024-01-01 03:00:00"), "view", 1.0, 9))
      q.processAllAvailable()
      val rows = spark.table("ss_join_t")
        .filter(col("user_id") === 1)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      assert(rows == Set((1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00"))))
    } finally q.stop()
  }

  test("foreachBatch lands micro-batches in parquet") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("fb").resolve("t").toString
    val stream = MemoryStream[Ev]
    val q = StreamOps.tumblingStream(stream.toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(out)
      }.start()
    try {
      stream.addData(Ev(ts("2024-01-01 00:10:00"), "click", 2.0, 1))
      q.processAllAvailable()
      stream.addData(Ev(ts("2024-01-01 00:20:00"), "click", 3.0, 1))
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
      assert(landed.count() >= 2) // one update row per batch
      assert(landed.columns.toSeq == Seq("ws", "event_type", "n", "total"))
    } finally q.stop()
  }

  test("trending leaderboard runs as a stream: rank in foreachBatch over sliding windows") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("trend").resolve("t").toString
    val stream = MemoryStream[Ev]
    val q = StreamOps.slidingStream(stream.toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamOps.rankWindows(batch).write.mode("append").parquet(out)
      }.start()
    try {
      stream.addData(
        Ev(ts("2024-01-01 00:10:00"), "click", 1.0, 1),
        Ev(ts("2024-01-01 00:11:00"), "click", 1.0, 2),
        Ev(ts("2024-01-01 00:12:00"), "view", 1.0, 3))
      q.processAllAvailable()
      // the 00:00 window's latest update must rank click(2) over view(1)
      val rows = spark.read.parquet(out)
        .filter(col("ws") === ts("2024-01-01 00:00:00"))
        .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows.contains(("click", 2L, 1L)), s"got ${rows.mkString(",")}")
      assert(rows.contains(("view", 1L, 2L)), s"got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("streaming query resumes from checkpoint with aggregation state intact") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("ckpt_out").resolve("t").toString
    val stream = MemoryStream[Ev]
    // memory sink doesn't support recovery; foreachBatch does
    def start() = StreamOps.tumblingStream(stream.toDF())
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      }.start()

    val q1 = start()
    stream.addData(Ev(ts("2024-01-01 00:10:00"), "click", 1.0, 1))
    q1.processAllAvailable()
    q1.stop()

    val q2 = start() // same source instance + checkpoint → offsets resume
    try {
      stream.addData(Ev(ts("2024-01-01 00:20:00"), "click", 2.0, 1))
      q2.processAllAvailable()
      val w0 = spark.read.parquet(out)
        .filter(col("ws") === ts("2024-01-01 00:00:00"))
        .collect().map(r => (r.getLong(2), r.getDouble(3)))
      // the post-restart update for the window must count BOTH events
      // — state recovered across the restart, not reset
      assert(w0.contains((2L, 3.0)), s"got ${w0.mkString(",")}")
    } finally q2.stop()
  }

  test("stream-stream join buffer survives a checkpoint restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("ssj_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("ssj_out").resolve("t").toString
    val clicks = MemoryStream[EvI]
    val views = MemoryStream[EvI]
    // memory sink doesn't support recovery; foreachBatch does
    def start() = StreamOps.clickViewStream(clicks.toDF(), views.toDF())
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      }.start()

    val q1 = start()
    // the click is BUFFERED in join state (no matching view yet)
    clicks.addData(EvI(1, ts("2024-01-01 00:00:00"), "click", 0, 1))
    q1.processAllAvailable()
    q1.stop()

    val q2 = start() // same sources + checkpoint → state store resumes
    try {
      // the match arrives only AFTER the restart: the pair can exist
      // only if the pre-restart join buffer was recovered, not reset
      views.addData(EvI(10, ts("2024-01-01 00:30:00"), "view", 0, 1))
      q2.processAllAvailable()
      val rows = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows((1L, 1L, 10L)),
        s"buffered click lost across restart: ${rows.mkString(",")}")
    } finally q2.stop()
  }

  test("streaming dedup drops in-watermark duplicates, keeps distinct keys") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = StreamOps.dedupStream(stream.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    try {
      stream.addData(
        Ev(ts("2024-01-01 00:00:00"), "click", 1.0, 1),
        Ev(ts("2024-01-01 00:05:00"), "click", 2.0, 1)) // same batch dup
      q.processAllAvailable()
      // duplicate of (1, click) in a LATER micro-batch, still within
      // the 1 h watermark horizon → must also be dropped
      stream.addData(
        Ev(ts("2024-01-01 00:10:00"), "click", 3.0, 1),
        Ev(ts("2024-01-01 00:10:00"), "view", 4.0, 1)) // distinct key kept
      q.processAllAvailable()
      val rows = spark.table("dedup_t")
        .collect().map(r => (r.getLong(3), r.getString(1))).toList
      assert(rows.length == 2, s"expected 2 distinct keys, got $rows")
      assert(rows.toSet == Set((1L, "click"), (1L, "view")))
    } finally q.stop()
  }

  test("session stream merges events within the gap, splits beyond it") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = StreamOps.sessionStream(stream.toDF())
      .writeStream.format("memory").queryName("sessions_t")
      .outputMode("complete").start()
    try {
      stream.addData(
        Ev(ts("2024-01-01 00:00:00"), "click", 1.0, 7),
        Ev(ts("2024-01-01 00:20:00"), "click", 1.0, 7), // same session (gap 20m)
        Ev(ts("2024-01-01 01:30:00"), "click", 1.0, 7)) // new session
      q.processAllAvailable()
      val sessions = spark.table("sessions_t")
        .filter(col("user_id") === 7)
        .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(3)))
      assert(sessions.toSet == Set(
        (ts("2024-01-01 00:00:00"), ts("2024-01-01 00:50:00"), 2L),
        (ts("2024-01-01 01:30:00"), ts("2024-01-01 02:00:00"), 1L)))
    } finally q.stop()
  }

  test("streaming drift buckets equal the batch binning over the same values") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val boundaries = Seq(10.0, 20.0, 30.0)
    // boundary-equal values included: the strict-> rule must agree
    // with the batch/oracle convention across the stream boundary too
    val values = Seq(5.0, 10.0, 15.0, 20.0, 25.0, 30.0, 35.0, 9.999, 30.0001)
    val stream = MemoryStream[Double]
    val q = StreamOps.driftBucketStream(
        stream.toDF().withColumnRenamed("value", "v")
          .selectExpr("v AS value"), boundaries)
      .writeStream.format("memory").queryName("drift_buckets")
      .outputMode("complete").start()
    try {
      stream.addData(values.take(4): _*); q.processAllAvailable()
      stream.addData(values.drop(4): _*); q.processAllAvailable()
      val got = spark.table("drift_buckets").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val expected = values.groupBy(v => boundaries.count(v > _).toLong)
        .map { case (b, g) => (b, g.size.toLong) }
      assert(got == expected, s"streamed buckets $got vs local $expected")
      // and the batch twin of the same function binned identically
      val batch = StreamOps.driftBucketStream(values.toDF("value"), boundaries)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(batch == expected)
    } finally q.stop()
  }

  test("streaming sharded CMS: summed shard sketches equal the batch sketch exactly") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val words = Seq("spark", "scan", "join", "spark", "agg", "spark",
      "scan", "window", "join", "spark", "scan", "hash")
    val stream = MemoryStream[String]
    val q = StreamOps.cmsShardStream(
        stream.toDF().withColumnRenamed("value", "tok"), shards = 4)
      .writeStream.format("memory").queryName("cms_shards")
      .outputMode("update").start()
    try {
      // three uneven micro-batches: the summed final sketches must not
      // depend on how the stream was split
      stream.addData(words.take(5): _*); q.processAllAvailable()
      stream.addData(words.slice(5, 6): _*); q.processAllAvailable()
      stream.addData(words.drop(6): _*); q.processAllAvailable()
      import graft.functions.TypedAggregators.{CmsDepth, CmsWidth, cmsEstimate, cmsIndex}
      // latest sketch per shard (each batch re-emits the running state)
      val rows = spark.table("cms_shards").collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      val latest = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (_, g) => g.maxBy(_._2)._1._2 }
      val global = latest.foldLeft(new Array[Long](CmsWidth * CmsDepth)) {
        (acc, sk) => acc.indices.foreach(i => acc(i) += sk(i)); acc
      }
      // identical to a locally-built batch sketch over the same multiset
      val batch = new Array[Long](CmsWidth * CmsDepth)
      words.foreach { w =>
        (0 until CmsDepth).foreach(d => batch(d * CmsWidth + cmsIndex(w, d)) += 1)
      }
      assert(global.sameElements(batch),
        "streamed shard sketches diverge from the batch sketch")
      assert(cmsEstimate(global, "spark") >= 4)
      assert(latest.size > 1, "all tokens landed in one shard - sharding dead")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-static enrich join equals batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "AUTO"), (2L, "BUILDING"), (3L, "AUTO"))
      .toDF("c_custkey", "c_mktsegment")
    val events = Seq(
      Ev(ts("2024-01-01 00:10:00"), "click", 1.0, 1),
      Ev(ts("2024-01-01 00:20:00"), "view", 2.0, 2),
      Ev(ts("2024-01-01 01:05:00"), "click", 4.0, 3),
      Ev(ts("2024-01-01 01:15:00"), "click", 8.0, 9)) // no dim row: dropped
    val stream = MemoryStream[Ev]
    val q = StreamOps.enrichStream(stream.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_t")
      .outputMode("update").start()
    try {
      stream.addData(events.take(2): _*); q.processAllAvailable()
      // second micro-batch: the dim is re-joined per trigger
      stream.addData(events.drop(2): _*); q.processAllAvailable()
      val got = spark.table("enrich_t")
        .groupBy("ws", "segment").agg(max("n").as("n"), max("total").as("total"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val expected = StreamOps.enrichAgg(events.toDF(), dim)
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("stream-stream interval join equals batch twin across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val cRows = Seq(
      EvI(1, ts("2024-01-01 00:00:00"), "click", 0, 1),
      EvI(2, ts("2024-01-01 02:00:00"), "click", 0, 1),
      EvI(3, ts("2024-01-01 00:05:00"), "click", 0, 2))
    val vRows = Seq(
      EvI(10, ts("2024-01-01 00:30:00"), "view", 0, 1), // matches click 1
      EvI(11, ts("2024-01-01 02:10:00"), "view", 0, 1), // matches click 2
      EvI(12, ts("2024-01-01 03:00:00"), "view", 0, 2)) // >1h after click 3
    val clicks = MemoryStream[EvI]
    val views = MemoryStream[EvI]
    val q = StreamOps.clickViewStream(clicks.toDF(), views.toDF())
      .writeStream.format("memory").queryName("ssj_t")
      .outputMode("append").start()
    try {
      // split across triggers: click 2 must be BUFFERED in join state
      // at trigger 1 and matched when view 11 arrives at trigger 2
      clicks.addData(cRows.take(2): _*); views.addData(vRows.take(1): _*)
      q.processAllAvailable()
      clicks.addData(cRows.drop(2): _*); views.addData(vRows.drop(1): _*)
      q.processAllAvailable()
      val got = spark.table("ssj_t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expected = StreamOps.clickViewJoin(cRows.toDF(), vRows.toDF())
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected && expected == Set((1L, 1L, 10L), (1L, 2L, 11L)),
        s"streamed: $got, batch twin: $expected")
    } finally q.stop()
  }

  test("left-outer stream-stream join null-pads only after the watermark, and evicts state") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EvI]
    val views = MemoryStream[EvI]
    val q = StreamOps.clickViewStream(clicks.toDF(), views.toDF(), "left_outer")
      .writeStream.format("memory").queryName("ssjo_t")
      .outputMode("append").start()
    try {
      clicks.addData(EvI(1, ts("2024-01-01 00:00:00"), "click", 0, 1))
      views.addData(EvI(10, ts("2024-01-01 00:10:00"), "view", 0, 2)) // other user
      q.processAllAvailable()
      assert(spark.table("ssjo_t").isEmpty,
        "null-padded row emitted before the watermark could prove no match")
      // advance BOTH inputs far past click_ts + 1h (+30m delay)...
      clicks.addData(EvI(2, ts("2024-01-01 05:00:00"), "click", 0, 3))
      views.addData(EvI(11, ts("2024-01-01 05:00:00"), "view", 0, 4))
      q.processAllAvailable()
      // ...and run one more micro-batch: outer results flush in the
      // batch AFTER the watermark update that proved them unmatched
      clicks.addData(EvI(3, ts("2024-01-01 05:01:00"), "click", 0, 5))
      q.processAllAvailable()
      val rows = spark.table("ssjo_t").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(rows((1L, 1L, -1L)), s"unmatched click not null-padded: $rows")
      // state eviction: click 1 / view 10 are past the watermark and
      // must be gone; only the recent rows may remain buffered
      val lastState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators
      val buffered = lastState.map(_.numRowsTotal).sum
      assert(buffered <= 3, s"join state not evicted: $buffered rows buffered")
    } finally q.stop()
  }

  test("near-dup pair-dedup state survives a checkpoint restart (no re-flag on redelivery)") {
    implicit val sqlCtx = spark.sqlContext
    val (buckets, sets) =
      graft.dedup.DedupOps.settledMinhashIndex(spark, sfTiny)
    val m = graft.dedup.DedupOps.IncBatchMod
    val batchDocs = graft.Tables.documents(spark, sfTiny)
      .filter(pmod(col("doc_id"), lit(10)) === m)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .zipWithIndex.map { case ((id, t), i) =>
        NewDoc(id, t, ts(f"2024-01-01 00:${i % 50}%02d:00")) }
    val ckpt = java.nio.file.Files.createTempDirectory("nd_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("nd_out").resolve("t").toString
    val stream = MemoryStream[NewDoc]
    def start() = graft.dedup.DedupOps
      .neardupIngest(stream.toDF(), buckets, sets)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      }.start()

    val q1 = start()
    stream.addData(batchDocs.toSeq: _*)
    q1.processAllAvailable()
    q1.stop()

    val q2 = start() // same source + checkpoint → dedup state resumes
    try {
      // the ENTIRE batch is redelivered after the restart (the
      // at-least-once crash-recovery shape): every pair is already in
      // the recovered dedup state, so nothing may re-emit — if the
      // state had reset, the parquet would hold each pair twice
      stream.addData(batchDocs.toSeq: _*)
      q2.processAllAvailable()
      val got = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
      val expected = graft.dedup.DedupOps.streamNeardup(spark, sfTiny)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
      assert(got == expected,
        s"pairs re-flagged across restart: ${got.size} vs ${expected.size}")
      assert(got.nonEmpty)
    } finally q2.stop()
  }

  test("streaming near-dup ingest equals the batch twin, dedups at-least-once redelivery") {
    implicit val sqlCtx = spark.sqlContext
    // the settled index is the SAME memoized state the oracled batch
    // twin (stream_neardup) reads — yesterday's corpus
    val (buckets, sets) =
      graft.dedup.DedupOps.settledMinhashIndex(spark, sfTiny)
    val m = graft.dedup.DedupOps.IncBatchMod
    val batchDocs = graft.Tables.documents(spark, sfTiny)
      .filter(pmod(col("doc_id"), lit(10)) === m)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    assert(batchDocs.nonEmpty)
    val docs = batchDocs.zipWithIndex.map { case ((id, t), i) =>
      NewDoc(id, t, ts(f"2024-01-01 00:${i % 50}%02d:00")) }
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val stream = MemoryStream[NewDoc]
    // the watermark is set INSIDE neardupIngest (after its typed
    // pass — a flatMap re-creates attributes and would strip
    // upstream event-time metadata), so the raw stream is passed
    val q = graft.dedup.DedupOps.neardupIngest(stream.toDF(), buckets, sets)
      .writeStream.format("memory").queryName("neardup_t")
      .outputMode("append").start()
    try {
      stream.addData(b1: _*)
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable()
      // at-least-once upstream: the first half arrives AGAIN within
      // the watermark horizon — the within-watermark pair state must
      // drop every redelivered pair, so the comparison below is on
      // MULTISETS (a duplicate emission would fail it)
      stream.addData(b1: _*)
      q.processAllAvailable()
      val got = spark.table("neardup_t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
      val expected = graft.dedup.DedupOps.streamNeardup(spark, sfTiny)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
      assert(got == expected)
      assert(got.nonEmpty, "fixture should plant cross-boundary near-dups")
    } finally q.stop()
  }

  test("file source → file sink: exactly-once across a simulated crash in the commit window") {
    // The production ingest protocol end-to-end on disk — what the
    // MemoryStream specs above cannot cover. The protocol itself
    // lives in src/main (ExactlyOnceHarness: every closure on the
    // executor classpath) so the SAME function also runs under
    // multi-process local-cluster masters via the `exactly_once`
    // evidence experiment; a protocol violation throws and fails
    // this test.
    ExactlyOnceHarness.run(spark)
  }
}
