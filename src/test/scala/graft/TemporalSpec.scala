package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Reach, Temporal}
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

class TemporalSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(rows: (Long, String, Long, Double)*) =
    rows.map { case (u, t, id, v) => (u, ts(t), id, v) }
      .toDF("user_id", "ts", "event_id", "value")

  test("attribution splits purchase cents equally; unattributed goes to (none)") {
    // u1 buys 10.00 after a view and a click (5.00 each); u2 buys
    // 7.77 with no prior exposure in window; u1's second view is
    // AFTER the purchase -> no credit
    val e = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "click", 0.0),
      (1L, "2024-01-01 12:00:00", 3L, "purchase", 10.0),
      (1L, "2024-01-01 13:00:00", 4L, "view", 0.0),
      (2L, "2024-01-05 12:00:00", 5L, "purchase", 7.77))
      .map { case (u, t, id, et, v) => (u, ts(t), id, et, v) }
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = Temporal.attribution(e, windowDays = 3).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out == Map(
      "view" -> ((1L, 5.0)), "click" -> ((1L, 5.0)),
      "(none)" -> ((1L, 7.77))))
  }

  test("attribution credits are exact under uneven splits") {
    // 0.01 over 3 exposures: each credit = 333333 micro-cents, one
    // micro-cent remainder stranded (documented contract)
    val e = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 10:10:00", 2L, "view", 0.0),
      (1L, "2024-01-01 10:20:00", 3L, "click", 0.0),
      (1L, "2024-01-01 11:00:00", 4L, "purchase", 0.01))
      .map { case (u, t, id, et, v) => (u, ts(t), id, et, v) }
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = Temporal.attribution(e, windowDays = 3).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("view") == ((2L, 2 * 333333 / 1e8)))
    assert(out("click") == ((1L, 333333 / 1e8)))
  }

  test("attributionDecay weights recent touches by powers of two") {
    // window 3: a view 2 days before (age 2 -> w=1) and a click hours
    // before (age 0 -> w=4) split 10.00 as 2.00 / 8.00; the boundary
    // exposure exactly 3 days before is OUTSIDE (age == windowDays)
    val e = Seq(
      (1L, "2024-01-01 12:00:00", 1L, "view", 0.0),  // boundary, out
      (1L, "2024-01-02 12:00:00", 2L, "view", 0.0),  // age 2 -> w 1
      (1L, "2024-01-04 09:00:00", 3L, "click", 0.0), // age 0 -> w 4
      (1L, "2024-01-04 12:00:00", 4L, "purchase", 10.0))
      .map { case (u, t, id, et, v) => (u, ts(t), id, et, v) }
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = Temporal.attributionDecay(e, windowDays = 3).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out == Map("view" -> ((1L, 2.0)), "click" -> ((1L, 8.0))))
  }

  test("sessionPaths: prefix paths per session with shares, ordered top-N") {
    // u1 session A: view>click>purchase; after a 2h gap session B: view
    // u2 one session: view>click
    val e = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (1L, "2024-01-01 10:01:00", 2L, "click"),
      (1L, "2024-01-01 10:02:00", 3L, "purchase"),
      (1L, "2024-01-01 13:00:00", 4L, "view"),
      (2L, "2024-01-01 09:00:00", 5L, "view"),
      (2L, "2024-01-01 09:10:00", 6L, "click"))
      .map { case (u, t, id, et) => (u, ts(t), id, et) }
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Temporal.sessionPaths(e, gapMinutes = 30, maxLen = 2, topN = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
    // maxLen=2 truncates u1's first session to its prefix
    assert(out.toMap == Map(
      "view>click" -> ((2L, 2.0 / 3)), "view" -> ((1L, 1.0 / 3))))
    assert(out.head._1 == "view>click") // ordered by count desc
  }

  test("gapFill densifies the daily series and tracks staleness") {
    val events = Seq(
      ("a", ts("2024-01-01 10:00:00")), ("a", ts("2024-01-01 11:00:00")),
      ("a", ts("2024-01-04 10:00:00")),
      ("b", ts("2024-01-02 09:00:00")))
      .toDF("event_type", "ts")
    val out = Temporal.gapFill(events).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getInt(3), r.getInt(4))).toMap
    assert(out == Map(
      ("a", "2024-01-01") -> ((2L, 0, 0)),
      ("a", "2024-01-02") -> ((0L, 1, 1)),
      ("a", "2024-01-03") -> ((0L, 1, 2)),
      ("a", "2024-01-04") -> ((1L, 0, 0)),
      ("b", "2024-01-02") -> ((1L, 0, 0))))
  }

  test("sessionize splits on gaps and aggregates per session") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, 1.0),
      (1L, "2024-01-01 10:10:00", 2L, 2.0),   // same session (10 min)
      (1L, "2024-01-01 10:50:00", 3L, 4.0),   // 40 min > 30 → new session
      (2L, "2024-01-01 09:00:00", 4L, 8.0))
    val out = Temporal.sessionize(events, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getTimestamp(2), r.getTimestamp(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out.size == 3)
    assert(out((1L, 1L)) == ((ts("2024-01-01 10:00:00"),
      ts("2024-01-01 10:10:00"), 2L, 3.0)))
    assert(out((1L, 2L)) == ((ts("2024-01-01 10:50:00"),
      ts("2024-01-01 10:50:00"), 1L, 4.0)))
    assert(out((2L, 1L)) == ((ts("2024-01-01 09:00:00"),
      ts("2024-01-01 09:00:00"), 1L, 8.0)))
  }

  test("basketPairs counts co-occurring types per session") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (1L, ts("2024-01-01 10:10:00"), 2L, "click"),  // same session
      (1L, ts("2024-01-01 10:12:00"), 3L, "view"),   // dup type: one entry
      (1L, ts("2024-01-01 12:00:00"), 4L, "view"),   // new session, solo
      (2L, ts("2024-01-01 09:00:00"), 5L, "click"),
      (2L, ts("2024-01-01 09:01:00"), 6L, "buy"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Temporal.basketPairs(events, 30).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // 3 sessions total; pairs sorted lexicographically within session
    assert(out == Map(
      ("click", "view") -> ((1L, 3L, 1.0 / 3)),
      ("buy", "click") -> ((1L, 3L, 1.0 / 3))))
  }

  test("assocRules emits both directions with confidence and lift") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (1L, ts("2024-01-01 10:10:00"), 2L, "click"),  // s1: {click, view}
      (1L, ts("2024-01-01 12:00:00"), 3L, "view"),   // s2: {view}
      (2L, ts("2024-01-01 09:00:00"), 4L, "view"))   // s3: {view}
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Temporal.assocRules(events, 30).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7), r.getDouble(8))).toMap
    // 3 sessions; view in 3, click in 1, co-occur in 1.
    // click→view: conf 1/1=1, lift = (1*3)/(1*3) = 1
    // view→click: conf 1/3,   lift = (1*3)/(3*1) = 1
    assert(out == Map(
      ("click", "view") -> ((1L, 1L, 3L, 3L, 1.0 / 3, 1.0, 1.0)),
      ("view", "click") -> ((1L, 3L, 1L, 3L, 1.0 / 3, 1.0 / 3, 1.0))))
  }

  test("sessionDepth: clamped buckets, session vs event shares") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 10:01:00"), 2L, "a"),   // s1: depth 2
      (2L, ts("2024-01-01 09:00:00"), 3L, "a")) ++ // s2: depth 1
      (1L to 8L).map(i =>                          // s3: depth 8 -> 6+
        (3L, ts(s"2024-01-01 12:0$i:00"), 10L + i, "a"))
      .toSeq
    val out = Temporal.sessionDepth(
      events.toDF("user_id", "ts", "event_id", "event_type"), 30)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(out == Map(
      1L -> ((1L, 1L, 1.0 / 3, 1.0 / 11)),
      2L -> ((1L, 2L, 1.0 / 3, 2.0 / 11)),
      6L -> ((1L, 8L, 1.0 / 3, 8.0 / 11))))
  }

  test("sessionConversion: entry-typed purchase share") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (1L, ts("2024-01-01 10:05:00"), 2L, "purchase"), // s1 view->buys
      (1L, ts("2024-01-01 12:00:00"), 3L, "view"),     // s2 view, no buy
      (2L, ts("2024-01-01 09:00:00"), 4L, "purchase")) // s3 entry=buy
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Temporal.sessionConversion(events, 30).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out("view") == ((2L, 1L, 0.5)))
    assert(out("purchase") == ((1L, 1L, 1.0)))
  }

  test("sessionDuration: entry-typed integer-second quartiles + p95") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 10:00:30"), 2L, "b"),
      (1L, ts("2024-01-01 10:10:00"), 3L, "c"),   // s1: entry a, 600 s
      (1L, ts("2024-01-01 11:00:00"), 4L, "b"),   // s2: entry b, 0 s
      (2L, ts("2024-01-01 09:00:00"), 5L, "a"))   // s3: entry a, 0 s
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Temporal.sessionDuration(events, 30).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6)))).toMap
    // entry a durations {0, 600}: interpolated 150/300/450/570
    assert(out("a") == ((2L, 300.0, 150.0, 300.0, 450.0, 570.0)))
    assert(out("b") == ((1L, 0.0, 0.0, 0.0, 0.0, 0.0)))
  }

  test("concurrency: hour-spanning sessions stay active in both hours") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 10:10:00"), 2L, "a"),   // s1: hours 10→10
      (1L, ts("2024-01-01 11:00:00"), 3L, "a"),   // s2: 11→11
      (2L, ts("2024-01-01 09:00:00"), 4L, "a"),   // s3: 9→9
      (3L, ts("2024-01-01 10:50:00"), 5L, "a"),
      (3L, ts("2024-01-01 11:05:00"), 6L, "a"))   // s4: 10→11
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Temporal.concurrency(events, 30).collect()
      .map(r => r.getTimestamp(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(out.toSeq == Seq(
      "2024-01-01 09:00:00.0" -> ((1L, 1L, 1L)),
      "2024-01-01 10:00:00.0" -> ((2L, 1L, 2L)),
      "2024-01-01 11:00:00.0" -> ((1L, 2L, 2L))))
  }

  test("eventGaps computes per-type gap quartiles over user streams") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 10:00:10"), 2L, "a"),   // gap 10s
      (1L, ts("2024-01-01 10:00:30"), 3L, "a"),   // gap 20s
      (2L, ts("2024-01-01 09:00:00"), 4L, "a"),
      (2L, ts("2024-01-01 09:00:04"), 5L, "a"),   // gap 4s
      (3L, ts("2024-01-01 08:00:00"), 6L, "b"))   // single event: no gap
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Temporal.eventGaps(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // gaps {4,10,20}: p25 = 4+0.5·6 = 7, p50 = 10, p75 = 15
    assert(out == Map("a" -> ((3L, 34e6 / 3 / 1e6, 7.0, 10.0, 15.0))))
  }

  test("batch sessionize equals streaming sessionize on the same events") {
    val rows = Seq(
      Event(1L, ts("2024-01-01 10:00:00"), "click", 1.0),
      Event(1L, ts("2024-01-01 10:10:00"), "view", 2.0),
      Event(1L, ts("2024-01-01 12:00:00"), "click", 4.0),
      Event(2L, ts("2024-01-01 10:00:00"), "view", 8.0))
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(rows: _*)
    val q = EventStream.sessionize(spark, mem.toDS(), 30)
      .writeStream.format("memory").queryName("tmp_sess_eq")
      .outputMode("append").start()
    // sentinel far past the watermark + gap times every session out
    mem.addData(Event(99L, ts("2024-01-03 00:00:00"), "x", 0.0))
    q.processAllAvailable()
    mem.addData(Event(99L, ts("2024-01-04 00:00:00"), "x", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tmp_sess_eq").where(col("user_id") =!= 99L)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    val batch = Temporal.sessionize(
      rows.zipWithIndex.map { case (e, i) =>
        (e.user_id, e.ts, i.toLong, e.value) }
        .toDF("user_id", "ts", "event_id", "value"), 30)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(streamed == batch)
    assert(batch.size == 3)
  }

  test("asofJoin picks the latest at-or-before right row per key") {
    val purchases = ev(
      (1L, "2024-01-01 10:01:40", 10L, 5.0),
      (1L, "2024-01-01 09:00:40", 11L, 6.0),  // before any exposure
      (2L, "2024-01-01 12:00:00", 12L, 7.0))
    val exposures = Seq(
      (1L, ts("2024-01-01 10:00:50"), "view"),
      (1L, ts("2024-01-01 10:01:40"), "click"), // equal ts: at-or-before
      (2L, ts("2024-01-01 00:00:10"), "view"))  // old but still carried
      .toDF("user_id", "ts", "event_type")
    val out = Temporal.asofJoin(purchases, exposures, "user_id",
      Seq("ts", "event_type")).collect()
      .map(r => r.getLong(2) -> (Option(r.getTimestamp(4)),
        Option(r.getString(5)))).toMap
    assert(out(10L) == ((Some(ts("2024-01-01 10:01:40")), Some("click"))))
    assert(out(11L) == ((None, None)))
    assert(out(12L) == ((Some(ts("2024-01-01 00:00:10")), Some("view"))))
  }

  test("rangeJoin matches points inside intervals across bin boundaries") {
    val intervals = Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-04 00:00:00"), 100L),
      (1L, ts("2024-02-01 00:00:00"), ts("2024-02-01 06:00:00"), 101L),
      (2L, ts("2024-01-01 00:00:00"), ts("2024-01-04 00:00:00"), 102L))
      .toDF("user_id", "start", "end", "iv_id")
    val points = Seq(
      (1L, ts("2024-01-03 23:59:59"), 1.0),  // inside, different bin than start
      (1L, ts("2024-01-04 00:00:00"), 2.0),  // boundary: inclusive end
      (1L, ts("2024-01-04 00:00:01"), 4.0),  // just outside
      (1L, ts("2024-02-01 03:00:00"), 8.0),  // inside the short interval
      (2L, ts("2024-01-02 00:00:00"), 16.0)) // other key
      .toDF("user_id", "ts", "value")
    val out = Temporal.rangeJoin(intervals, points, "user_id", 3 * 86400L)
      .collect().map(r => (r.getLong(3), r.getDouble(5))).toSet
    assert(out == Set((100L, 1.0), (100L, 2.0), (101L, 8.0), (102L, 16.0)))
    // no duplicate matches from the bin explode
    val n = Temporal.rangeJoin(intervals, points, "user_id", 3 * 86400L).count()
    assert(n == 4)
  }

  test("streaming attributionJoin emits exactly the batch rangeJoin pairs") {
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), "purchase", 0.0, 100L),
      (1L, ts("2024-01-02 10:00:00"), "view", 2.0, 1L),     // inside
      (1L, ts("2024-01-04 10:00:00"), "click", 4.0, 2L),    // boundary (=3d)
      (1L, ts("2024-01-05 10:00:01"), "click", 8.0, 3L),    // outside
      (2L, ts("2024-01-01 10:00:00"), "view", 16.0, 4L),    // before purchase
      (2L, ts("2024-01-03 10:00:00"), "purchase", 0.0, 101L))
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double, Long)]
    mem.addData(rows.map { case (u, t, e, v, id) => (u, t, e, v, id) }: _*)
    val q = EventStream.attributionJoin(
      mem.toDF().toDF("user_id", "ts", "event_type", "value", "event_id"), 3)
      .writeStream.format("memory").queryName("attr_eq")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attr_eq").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getTimestamp(3),
        r.getDouble(4))).toSet
    val df = rows.toDF("user_id", "ts", "event_type", "value", "event_id")
    val batch = Temporal.rangeJoin(
      df.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("start"),
          (col("ts") + expr("INTERVAL 3 DAYS")).as("end"),
          col("event_id").as("p_event_id")),
      df.where(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"), col("value")),
      "user_id", 3 * 86400L).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getTimestamp(4),
        r.getDouble(5))).toSet
    assert(streamed == batch)
    assert(batch == Set(
      (1L, 100L, ts("2024-01-02 10:00:00"), 2.0),
      (1L, 100L, ts("2024-01-04 10:00:00"), 4.0)))
  }

  test("rollingDaily RANGE frame spans calendar gaps, not row gaps") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a", 1.0),
      (1L, ts("2024-01-02 10:00:00"), "a", 2.0),
      (1L, ts("2024-01-09 10:00:00"), "a", 4.0)) // 7 days after day 2
      .toDF("user_id", "ts", "event_type", "value")
    val out = Temporal.rollingDaily(events, 7).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(4), r.getDouble(5))).toMap
    assert(out("2024-01-01") == ((1L, 1.0)))
    assert(out("2024-01-02") == ((2L, 3.0)))
    // day 9 trailing window is [day 3, day 9]: days 1-2 fall outside —
    // a ROWS frame would wrongly include them
    assert(out("2024-01-09") == ((1L, 4.0)))
  }

  test("reachRollup levels agree with their dedicated aggregates") {
    val media = Seq(
      (1L, "click", "2024-01-01", 2.0),
      (1L, "view", "2024-01-01", 2.0),
      (2L, "click", "2024-01-08", 3.0),
      (2L, "click", "2024-01-08", 3.0))
      .toDF("household_id", "etype", "week", "projfact")
      .withColumn("week", col("week").cast("date"))
    val out = Reach.reachRollup(media, Seq("etype", "week"), "projfact")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4), r.getInt(5))).toMap
    // detail level
    assert(out(("click", "2024-01-01")) == ((1L, 2.0, 1L, 0)))
    assert(out(("click", "2024-01-08")) == ((2L, 6.0, 1L, 0)))
    // per-etype level: distinct households across weeks
    assert(out(("click", "all")) == ((3L, 8.0, 2L, 1)))
    assert(out(("view", "all")) == ((1L, 2.0, 1L, 1)))
    // grand total: 4 exposures, 2 distinct households
    assert(out(("all", "all")) == ((4L, 10.0, 2L, 3)))
  }

  test("approxReach estimates stay within 5% of exact reach on sf0.001") {
    val media = Tables.media(spark, "/root/testdata/sf0.001")
    val est = Reach.approxReach(media, "etype").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = media.groupBy(col("etype"))
      .agg(countDistinct(col("household_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = media.select(countDistinct(col("household_id")))
      .head().getLong(0)
    exact.foreach { case (k, n) =>
      assert(math.abs(est(k) - n) <= math.max(1L, (n * 0.05).toLong),
        s"etype $k: est ${est(k)} vs exact $n")
    }
    assert(math.abs(est("all") - exactAll) <=
      math.max(1L, (exactAll * 0.05).toLong))
  }

  test("attributionUShaped: 40/20/40 with 1- and 2-touch degeneracies") {
    import java.sql.Timestamp
    def ev(id: Long, uid: Long, t: String, typ: String, v: Double) =
      (id, uid, Timestamp.valueOf(t), typ, v)
    val rows = Seq(
      // user 1: three touches a<b<c then a 1.00 purchase
      ev(1, 1, "2024-01-01 10:00:00", "click", 0),
      ev(2, 1, "2024-01-02 10:00:00", "view", 0),
      ev(3, 1, "2024-01-03 10:00:00", "signup", 0),
      ev(4, 1, "2024-01-04 10:00:00", "purchase", 1.0),
      // user 2: two touches then a 1.00 purchase
      ev(5, 2, "2024-01-01 10:00:00", "click", 0),
      ev(6, 2, "2024-01-02 10:00:00", "view", 0),
      ev(7, 2, "2024-01-04 10:00:00", "purchase", 1.0),
      // user 3: one touch then a 1.00 purchase
      ev(8, 3, "2024-01-03 10:00:00", "error", 0),
      ev(9, 3, "2024-01-04 10:00:00", "purchase", 1.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = Temporal.attributionUShaped(rows, windowDays = 7)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("click") == 0.4 + 0.5)   // first of 3 + first of 2
    assert(out("view") == 0.2 + 0.5)    // middle of 3 + last of 2
    assert(out("signup") == 0.4)        // last of 3
    assert(out("error") == 1.0)         // sole touch takes all
  }

  test("attributionFirstLast: opener and closer each take full value") {
    val e = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (1L, "2024-01-01 11:00:00", 2L, "click", 0.0),
      (1L, "2024-01-01 12:00:00", 3L, "purchase", 10.0),
      (1L, "2024-01-01 13:00:00", 4L, "view", 0.0), // after: no credit
      (2L, "2024-01-05 12:00:00", 5L, "purchase", 7.77))
      .map { case (u, t, id, et, v) => (u, ts(t), id, et, v) }
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = Temporal.attributionFirstLast(e, 3).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out("view") == ((1L, 10.0, 0L, 0.0)))   // opener only
    assert(out("click") == ((0L, 0.0, 1L, 10.0)))  // closer only
    assert(out("(none)") == ((1L, 7.77, 1L, 7.77)))
  }

  /** (event_id -> (new_sess, session_ix)) of sessionRows at a 30-minute gap. */
  private def sessionOf(rows: (Long, String, Long, Double)*) =
    Temporal.sessionRows(ev(rows: _*), 30)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Int]("new_sess"), r.getAs[Long]("session_ix")))).toMap

  test("sessionRows: a gap of exactly gapMinutes stays, one microsecond more splits") {
    assert(sessionOf(
      (1L, "2024-01-01 10:00:00", 1L, 0.0),
      (1L, "2024-01-01 10:30:00", 2L, 0.0),          // gap == 30 min
      (1L, "2024-01-01 11:00:00.000001", 3L, 0.0))   // gap == 30 min + 1 us
      == Map(1L -> ((1, 1L)), 2L -> ((0, 1L)), 3L -> ((1, 2L))))
  }

  test("sessionRows orders equal timestamps by event_id") {
    // the lower event_id opens the session whatever the input order
    assert(sessionOf(
      (2L, "2024-01-01 10:00:00", 7L, 0.0),
      (2L, "2024-01-01 10:00:00", 5L, 0.0),
      (2L, "2024-01-01 12:00:00", 6L, 0.0),
      (2L, "2024-01-01 12:00:00", 4L, 0.0))
      == Map(5L -> ((1, 1L)), 7L -> ((0, 1L)), 4L -> ((1, 2L)), 6L -> ((0, 2L))))
  }

  test("sessionRows gives a single-event user one session") {
    val out = Temporal.sessionRows(
      ev((3L, "2024-01-01 10:00:00", 9L, 2.5)), 30, col("value")).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Int]("new_sess") == 1 &&
      out(0).getAs[Long]("session_ix") == 1L)
    assert(out(0).getAs[Double]("value") == 2.5)
    assert(out(0).getAs[Long]("tu") ==
      ts("2024-01-01 10:00:00").getTime * 1000L)
  }

  test("attribution models conserve total purchase value") {
    // 8 users, 3 days of views/clicks/searches and purchases at cent
    // values; windowDays = 2 leaves some purchases with no exposure
    val rnd = new scala.util.Random(5)
    val types = Seq("view", "click", "search", "purchase", "purchase")
    val rows = (1 to 240).map { i =>
      val typ = types(rnd.nextInt(types.size))
      (i.toLong, (1 + rnd.nextInt(8)).toLong,
        new Timestamp(ts("2024-01-01 00:00:00").getTime +
          rnd.nextInt(3 * 86400) * 1000L),
        typ, if (typ == "purchase") (1 + rnd.nextInt(99999)) / 100.0 else 0.0)
    }
    val e = rows.toDF("event_id", "user_id", "ts", "event_type", "value")
    val purchases = rows.filter(_._4 == "purchase")
    val totalCents = purchases.map(p => math.round(p._5 * 100)).sum
    // each purchase strands less than one micro-cent per exposure
    // paired with it; its user's exposure count bounds that
    val stranded = purchases.map(p =>
      rows.count(r => r._2 == p._2 && r._4 != "purchase")).sum.toLong
    def microCents(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => math.round(r.getAs[Double]("credited_value") * 1e8)).sum
    for ((name, model) <- Seq(
        "equal" -> (Temporal.attribution _),
        "decay" -> (Temporal.attributionDecay _),
        "u" -> (Temporal.attributionUShaped _))) {
      val lost = totalCents * 1000000L - microCents(model(e, 2))
      assert(lost >= 0 && lost <= stranded, s"$name lost $lost micro-cents")
    }
    val fl = Temporal.attributionFirstLast(e, 2).collect()
    for (c <- Seq("first_value", "last_value"))
      assert(fl.map(r => math.round(r.getAs[Double](c) * 100)).sum == totalCents, c)
    assert(fl.exists(_.getString(0) == "(none)"))
  }

  test("burstiness: clockwork is -1, mixed gaps hit the closed form") {
    // type a: gaps 60s, 60s (sigma 0 -> B = -1); type b: gaps 1s and
    // 99s -> D = 2*9802e12 - (100e6)^2 = 9604e12, sqrt = 98e6,
    // B = (98-100)/(98+100) = -1/99
    val e = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "a", 0.0),
      (1L, "2024-01-01 10:01:00", 2L, "a", 0.0),
      (1L, "2024-01-01 10:02:00", 3L, "a", 0.0),
      (2L, "2024-01-01 10:00:00", 4L, "b", 0.0),
      (2L, "2024-01-01 10:00:01", 5L, "b", 0.0),
      (2L, "2024-01-01 10:01:40", 6L, "b", 0.0))
      .map { case (u, t, id, et, v) => (u, ts(t), id, et, v) }
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = Temporal.burstiness(e).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out("a") == ((2L, 60.0, -1.0)))
    assert(out("b")._1 == 2L && out("b")._2 == 50.0)
    assert(math.abs(out("b")._3 - (-1.0 / 99)) < 1e-15)
  }
}
