package graft

import graft.streaming.{Event, EventStream}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros}
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(minutes: Long): java.sql.Timestamp =
    new java.sql.Timestamp(1700000000000L + minutes * 60000L)

  /** Starts `ds` into the memory table `name`. With `noDataBatches =
   * false` this query runs no micro-batch without data, so its watermark
   * moves only with data, and a row that the previous batch's watermark
   * lets through can reach the state function in the batch whose
   * watermark passes its group's deadline. */
  private def toMemory(ds: Dataset[_], name: String,
      noDataBatches: Boolean = true) = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, noDataBatches)
    try ds.writeStream.format("memory").queryName(name).outputMode("append").start()
    finally spark.conf.unset(key)
  }

  test("windowedAgg emits finalized windows under watermark (append mode)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.windowedAgg(in.toDF(), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("winagg").outputMode("append").start()
    try {
      in.addData(
        Event(1, 1, ts(0), "click", 1.0),
        Event(1, 2, ts(1), "click", 2.0),
        Event(2, 3, ts(6), "view", 3.0))
      q.processAllAvailable()
      // watermark hasn't advanced past the first window yet → nothing final
      assert(spark.table("winagg").count() == 0)
      // an event far in the future advances the watermark, closing both windows
      in.addData(Event(3, 4, ts(120), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("winagg")
        .select("event_type", "n", "sum_value").as[(String, Long, Double)]
        .collect().toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("sessionWindowAgg merges within-gap events and finalizes under watermark") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.sessionWindowAgg(in.toDF(), gap = "30 minutes", watermark = "30 minutes")
      .writeStream.format("memory").queryName("sesswin").outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then one 40 min
      // later (second session); user 2: a single event
      in.addData(
        Event(1, 1, ts(0), "click", 1.0),
        Event(1, 2, ts(10), "click", 1.0),
        Event(1, 3, ts(50), "view", 1.0),
        Event(2, 4, ts(5), "view", 1.0))
      q.processAllAvailable()
      // advance the watermark far enough to close every session
      in.addData(Event(3, 5, ts(600), "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sesswin")
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      val base = 1700000000000L * 1000L
      def us(m: Long) = base + m * 60000000L
      assert(rows == Set(
        (1L, us(0), us(10) + 1800L * 1000000L, 2L),
        (1L, us(50), us(50) + 1800L * 1000000L, 1L),
        (2L, us(5), us(5) + 1800L * 1000000L, 1L)))
    } finally q.stop()
  }

  test("approxDistinctStream maintains per-window sketch state across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.approxDistinctStream(in.toDF(), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("adistinct").outputMode("append").start()
    try {
      // same window fed across TWO batches: users {1,2} then {2,3} at
      // the SAME event time (window boundaries align to the epoch, not
      // to ts(0)) — the merged sketch must see 3 distinct users
      in.addData(Event(1, 1, ts(0), "click", 1.0), Event(2, 2, ts(0), "click", 1.0))
      q.processAllAvailable()
      in.addData(Event(2, 3, ts(0), "click", 1.0), Event(3, 4, ts(0), "click", 1.0))
      q.processAllAvailable()
      in.addData(Event(9, 5, ts(600), "view", 1.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("adistinct")
        .select("event_type", "approx_users").as[(String, Long)].collect().toMap
      assert(rows("click") == 3L) // HLL exact at tiny cardinalities
    } finally q.stop()
  }

  test("approxDistinctStream drops late data beyond the watermark (state evicted)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.approxDistinctStream(in.toDF(), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("adistinct_evict").outputMode("append").start()
    try {
      in.addData(Event(1, 1, ts(0), "click", 1.0), Event(2, 2, ts(0), "click", 1.0))
      q.processAllAvailable()
      // advance the watermark far past the window: it finalizes (emits)
      // and its sketch state is evicted
      in.addData(Event(9, 3, ts(600), "view", 1.0))
      q.processAllAvailable()
      val finalized = spark.table("adistinct_evict")
        .select("event_type", "approx_users").as[(String, Long)].collect().toSet
      assert(finalized == Set(("click", 2L)), s"got $finalized")
      // a NEW user arriving in the closed window is beyond the
      // watermark: it must be dropped, not re-open the window — the
      // emitted count stays 2 and append mode emits no second row
      in.addData(Event(5, 4, ts(0), "click", 1.0))
      q.processAllAvailable()
      in.addData(Event(9, 5, ts(1200), "view", 1.0)) // push watermark again
      q.processAllAvailable()
      val after = spark.table("adistinct_evict")
        .filter($"event_type" === "click")
        .select("approx_users").as[Long].collect().toSeq
      assert(after == Seq(2L),
        s"late event must not mutate or re-emit the finalized window: $after")
    } finally q.stop()
  }

  test("heavyHittersStream accumulates MG state across micro-batches, emits on watermark") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.heavyHittersStream(in.toDF(), "event_type", "ts", "5 minutes",
        capacity = 8, watermark = "10 minutes")
      .writeStream.format("memory").queryName("hh").outputMode("append").start()
    try {
      // epoch-aligned 5-min windows put the boundary at minute 1:40
      // past ts(0) — minutes 0 and 1 share a window, minute 2 does not
      in.addData(Event(1, 1, ts(0), "a", 1.0), Event(1, 2, ts(1), "b", 1.0))
      q.processAllAvailable()
      in.addData(Event(1, 3, ts(1), "a", 1.0)) // same window, later trigger
      q.processAllAvailable()
      assert(spark.table("hh").count() == 0, "window must not emit while open")
      in.addData(Event(2, 4, ts(120), "c", 1.0)) // advance watermark past window end
      q.processAllAvailable()
      val rows = spark.table("hh").select("item", "mg_count", "n_window")
        .as[(String, Long, Long)].collect().toSet
      // counts merged across the two micro-batches, exact (2 items < capacity)
      assert(rows == Set(("a", 2L, 3L), ("b", 1L, 3L)))
    } finally q.stop()
  }

  test("heavyHittersStream drops post-watermark stragglers without crashing or re-emitting") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // no-data batches on: the batch after the watermark moves closes
    // window 0, and Spark's late filter drops the straggler. Off: the
    // straggler reaches the operator in the batch whose watermark passes
    // the window end, and the window closes there with it folded in.
    for ((noData, wantA) <- Seq(true -> Seq(1L), false -> Seq(2L))) {
      val name = s"hhlate_$noData"
      val in = MemoryStream[Event]
      val q = toMemory(EventStream.heavyHittersStream(in.toDF(), "event_type", "ts",
        "5 minutes", capacity = 8, watermark = "10 minutes"), name, noData)
      try {
        in.addData(Event(1, 1, ts(0), "a", 1.0))
        q.processAllAvailable()
        in.addData(Event(2, 2, ts(120), "c", 1.0)) // watermark past window 0
        q.processAllAvailable()
        if (noData) assert(spark.table(name).filter($"item" === "a").count() == 1)
        // a straggler for window 0: must neither throw (a past-timeout
        // registration kills the query) nor re-emit the window
        in.addData(Event(1, 3, ts(1), "a", 1.0))
        q.processAllAvailable()
        in.addData(Event(2, 4, ts(240), "c", 1.0))
        q.processAllAvailable()
        val aRows = spark.table(name).filter($"item" === "a")
          .select("mg_count").as[Long].collect().toSeq
        assert(aRows == wantA, s"no-data batches $noData: window 0 emitted $aRows")
      } finally q.stop()
    }
  }

  test("heavyHitters over capacity: MG presence + count-bound guarantees hold") {
    import spark.implicits._
    // one window (every event at the same timestamp): 100x "hot" + 9
    // singleton colds, capacity 3 → n=109, error bound n/(c+1)=27;
    // "hot" (100 > 27) must be present with a lower-bound count in
    // [73, 100]; summary size <= capacity
    val events = ((1 to 100).map(i => Event(1, i.toLong, ts(1), "hot", 1.0)) ++
      (1 to 9).map(i => Event(1, (100 + i).toLong, ts(1), s"cold$i", 1.0))).toDF()
    val out = EventStream.heavyHittersStream(events, "event_type", "ts", "5 minutes",
        capacity = 3).collect()
    assert(out.forall(_.n_window == 109L), s"n_window wrong: ${out.mkString(",")}")
    assert(out.length <= 3, s"summary exceeds capacity: ${out.length}")
    val hot = out.find(_.item == "hot")
    assert(hot.isDefined, s"guaranteed heavy item missing: ${out.mkString(",")}")
    assert(hot.get.mg_count <= 100L && hot.get.mg_count >= 100L - 109L / 4,
      s"hot count bound violated: ${hot.get.mg_count}")
  }

  test("weighted MG pre-reduction equals the unweighted path below capacity") {
    import spark.implicits._
    // multi-partition input with repeats so the per-partition combine
    // genuinely collapses rows; below capacity both paths are exact
    val events = (1 to 300).map { i =>
      Event(1, i.toLong, ts(i % 3), s"t${i % 5}", 1.0)
    }.toDF().repartition(7)
    def collect(d: org.apache.spark.sql.Dataset[graft.streaming.HeavyHitter]) =
      d.collect().map(h => (h.window_start_us, h.item, h.mg_count, h.n_window)).toSet
    val raw = collect(EventStream.heavyHittersStream(
      events, "event_type", "ts", "5 minutes", capacity = 8))
    val pre = collect(EventStream.heavyHittersWeightedStream(
      events, "event_type", "ts", "5 minutes", capacity = 8))
    assert(pre == raw, s"pre-reduced path diverged:\npre=$pre\nraw=$raw")
    // and chunked combine (chunk smaller than the partition) merges
    // duplicate pairs downstream without changing the result
    val chunked = collect(EventStream.heavyHittersWeightedStream(
      events, "event_type", "ts", "5 minutes", capacity = 8, combineChunk = 16))
    assert(chunked == raw, s"chunked combine diverged:\n$chunked\n$raw")
  }

  test("weighted MG over capacity keeps the presence + count-bound guarantees") {
    import spark.implicits._
    val events = ((1 to 100).map(i => Event(1, i.toLong, ts(1), "hot", 1.0)) ++
      (1 to 9).map(i => Event(1, (100 + i).toLong, ts(1), s"cold$i", 1.0))).toDF()
      .repartition(5)
    val out = EventStream.heavyHittersWeightedStream(events, "event_type", "ts",
      "5 minutes", capacity = 3).collect()
    assert(out.forall(_.n_window == 109L), s"n_window wrong: ${out.mkString(",")}")
    assert(out.length <= 3, s"summary exceeds capacity: ${out.length}")
    val hot = out.find(_.item == "hot")
    assert(hot.isDefined, s"guaranteed heavy item missing: ${out.mkString(",")}")
    assert(hot.get.mg_count <= 100L && hot.get.mg_count >= 100L - 109L / 4,
      s"hot count bound violated: ${hot.get.mg_count}")
  }

  test("weighted MG accumulates across micro-batches and emits on watermark") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.heavyHittersWeightedStream(in.toDF(), "event_type", "ts",
        "5 minutes", capacity = 8, watermark = "10 minutes")
      .writeStream.format("memory").queryName("hhw").outputMode("append").start()
    try {
      in.addData(Event(1, 1, ts(0), "a", 1.0), Event(1, 2, ts(1), "b", 1.0),
        Event(1, 3, ts(1), "a", 1.0))
      q.processAllAvailable()
      in.addData(Event(1, 4, ts(1), "a", 1.0)) // same window, later trigger
      q.processAllAvailable()
      assert(spark.table("hhw").count() == 0, "window must not emit while open")
      in.addData(Event(2, 5, ts(120), "c", 1.0)) // advance watermark past window end
      q.processAllAvailable()
      val rows = spark.table("hhw").select("item", "mg_count", "n_window")
        .as[(String, Long, Long)].collect().toSet
      // the trigger-1 pre-reduction collapses the two "a" rows into one
      // weight-2 pair; counts still merge exactly across micro-batches
      assert(rows == Set(("a", 3L, 4L), ("b", 1L, 4L)))
    } finally q.stop()
  }

  test("weighted pre-reduction coarsens late-drop to pair granularity (documented)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // Pins the LATE-DATA GRANULARITY semantic documented on
    // heavyHittersWeightedStream: the raw path's pre-stateful filter
    // drops each late event by its OWN timestamp, while the combine
    // stamps a merged (window, item) pair with the pair's MAX event
    // time — a late event sharing a pair with an on-time event in the
    // same trigger rides in with it (toward the drop-nothing answer).
    def run(weighted: Boolean, name: String): Set[(String, Long, Long)] = {
      val in = MemoryStream[Event]
      val ds =
        if (weighted)
          EventStream.heavyHittersWeightedStream(in.toDF(), "event_type", "ts",
            "1 hour", capacity = 8, watermark = "10 minutes")
        else
          EventStream.heavyHittersStream(in.toDF(), "event_type", "ts",
            "1 hour", capacity = 8, watermark = "10 minutes")
      val q = ds.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(Event(1, 1, ts(20), "a", 1.0))
        q.processAllAvailable() // watermark advances to minute 10
        // one trigger, one partition chunk: a late "a" (minute 5 < wm)
        // plus an on-time "a" (minute 21) — same epoch-hour window
        in.addData(Event(1, 2, ts(5), "a", 1.0), Event(1, 3, ts(21), "a", 1.0))
        q.processAllAvailable()
        in.addData(Event(2, 4, ts(120), "c", 1.0)) // close the window
        q.processAllAvailable()
        spark.table(name).select("item", "mg_count", "n_window")
          .as[(String, Long, Long)].collect().toSet.filter(_._1 == "a")
      } finally q.stop()
    }
    assert(run(weighted = false, "hh_late_raw") == Set(("a", 2L, 2L)),
      "raw path must drop the late event individually")
    assert(run(weighted = true, "hh_late_wtd") == Set(("a", 3L, 3L)),
      "weighted path admits the late event merged with an on-time pair " +
        "(the documented chunk-granularity leak)")
  }

  test("dedupStream drops repeated keys within the watermark") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.dedupStream(in.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      in.addData(
        Event(1, 100, ts(0), "click", 1.0),
        Event(1, 100, ts(1), "click", 1.0), // duplicate id
        Event(2, 101, ts(2), "view", 2.0))
      q.processAllAvailable()
      in.addData(Event(1, 100, ts(3), "click", 1.0)) // still within watermark
      q.processAllAvailable()
      assert(spark.table("dedup").select("event_id").as[Long].collect().sorted.toSeq
        == Seq(100L, 101L))
    } finally q.stop()
  }

  test("sessionize: a late within-watermark event must not move the session end backwards") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.sessionize(in.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sess_late").outputMode("append").start()
    try {
      in.addData(Event(1, 1, ts(0), "click", 1.0), Event(1, 2, ts(20), "click", 1.0))
      q.processAllAvailable()
      in.addData(Event(1, 3, ts(10), "click", 1.0)) // late, within watermark
      q.processAllAvailable()
      // 25-min gap from the TRUE last event (20) — same session; a
      // regressed lastMs of 10 would see 35 min and wrongly split
      in.addData(Event(1, 4, ts(45), "click", 1.0))
      q.processAllAvailable()
      in.addData(Event(2, 9, ts(600), "x", 0.0)) // advance watermark
      q.processAllAvailable()
      in.addData(Event(2, 10, ts(1200), "x", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_late").filter($"user_id" === 1L)
        .select("n_events").as[Long].collect().toSeq
      assert(sessions == Seq(4L), s"expected one 4-event session, got $sessions")
    } finally q.stop()
  }

  test("sessionize closes sessions on gap within the stream and on timeout") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.sessionize(in.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then 2h later another
      in.addData(
        Event(1, 1, ts(0), "click", 1.0),
        Event(1, 2, ts(10), "click", 2.0),
        Event(1, 3, ts(130), "view", 5.0))
      q.processAllAvailable()
      val afterBatch = spark.table("sess")
        .select("user_id", "n_events", "sum_value").as[(Long, Long, Double)].collect().toSet
      // the gap inside the batch closed session 1 immediately
      assert(afterBatch == Set((1L, 2L, 3.0)))
      // advance watermark far beyond the open session's timeout
      in.addData(Event(2, 4, ts(600), "click", 1.0))
      q.processAllAvailable()
      in.addData(Event(2, 5, ts(1200), "click", 1.0))
      q.processAllAvailable()
      val all = spark.table("sess")
        .select("user_id", "n_events", "sum_value").as[(Long, Long, Double)].collect().toSet
      assert(all.contains((1L, 1L, 5.0)), s"timeout session missing: $all")
    } finally q.stop()
  }

  test("intervalJoin matches purchases to clicks in the preceding hour only") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = EventStream.intervalJoin(
      purchases.toDF().select($"user_id".as("p_user"), $"event_id".as("p_id"), $"ts".as("p_ts")),
      clicks.toDF().select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts")),
      "p_user", "c_user", "p_ts", "c_ts", lookback = "1 hour")
    val q = joined.select("p_id", "c_id")
      .writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    try {
      clicks.addData(
        Event(1, 10, ts(0), "click", 0.0),    // 30 min before purchase → match
        Event(1, 11, ts(25), "click", 0.0),   // 5 min before → match
        Event(1, 12, ts(40), "click", 0.0),   // AFTER the purchase → no match
        Event(2, 13, ts(0), "click", 0.0))    // other user → no match
      purchases.addData(Event(1, 100, ts(30), "purchase", 9.99))
      q.processAllAvailable()
      // inner interval join emits eagerly, no watermark wait needed
      val got = spark.table("ssjoin").as[(Long, Long)].collect().toSet
      assert(got == Set((100L, 10L), (100L, 11L)), s"got $got")
      // a click 2h earlier than a new purchase is out of the lookback
      clicks.addData(Event(3, 14, ts(60), "click", 0.0))
      purchases.addData(Event(3, 101, ts(200), "purchase", 1.0))
      q.processAllAvailable()
      val after = spark.table("ssjoin").as[(Long, Long)].collect().toSet
      assert(after == Set((100L, 10L), (100L, 11L)), s"got $after")
    } finally q.stop()
  }

  test("intervalJoin left_outer emits unmatched purchases null-padded after watermark") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = EventStream.intervalJoin(
      purchases.toDF().select($"user_id".as("p_user"), $"event_id".as("p_id"), $"ts".as("p_ts")),
      clicks.toDF().select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts")),
      "p_user", "c_user", "p_ts", "c_ts", lookback = "1 hour",
      watermark = "30 minutes", joinType = "left_outer")
    val q = joined.select("p_id", "c_id")
      .writeStream.format("memory").queryName("ssjoin_outer").outputMode("append").start()
    try {
      clicks.addData(Event(1, 10, ts(0), "click", 0.0))
      purchases.addData(
        Event(1, 100, ts(30), "purchase", 9.99), // click 30 min before → match
        Event(5, 101, ts(30), "purchase", 1.0))  // no click → outer row
      q.processAllAvailable()
      val eager = spark.table("ssjoin_outer").as[(Long, Option[Long])].collect().toSet
      assert(eager.contains((100L, Some(10L))), s"matched row must emit eagerly: $eager")
      assert(!eager.exists(_._1 == 101L),
        s"outer row must wait for the watermark to prove no match can arrive: $eager")
      // advance both watermarks far past purchase-ts + lookback; a second
      // advancing batch flushes the outer row (state-cleanup then emit)
      clicks.addData(Event(9, 98, ts(600), "click", 0.0))
      purchases.addData(Event(9, 99, ts(600), "purchase", 0.0))
      q.processAllAvailable()
      clicks.addData(Event(9, 97, ts(700), "click", 0.0))
      purchases.addData(Event(9, 96, ts(700), "purchase", 0.0))
      q.processAllAvailable()
      val got = spark.table("ssjoin_outer").as[(Long, Option[Long])].collect().toSet
      assert(got.contains((101L, None)),
        s"unmatched purchase must emit null-padded after the watermark: $got")
    } finally q.stop()
  }

  test("intervalJoin evicts right-side state past watermark + lookback") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = EventStream.intervalJoin(
      purchases.toDF().select($"user_id".as("p_user"), $"event_id".as("p_id"), $"ts".as("p_ts")),
      clicks.toDF().select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts")),
      "p_user", "c_user", "p_ts", "c_ts", lookback = "1 hour", watermark = "30 minutes")
    val q = joined.select("p_id", "c_id")
      .writeStream.format("memory").queryName("ssjoin_evict").outputMode("append").start()
    try {
      clicks.addData(Event(1, 10, ts(0), "click", 0.0))
      q.processAllAvailable()
      // advance both watermarks far past the click's eviction horizon
      clicks.addData(Event(9, 98, ts(600), "click", 0.0))
      purchases.addData(Event(9, 99, ts(600), "purchase", 0.0))
      q.processAllAvailable()
      // a purchase inside the old click's window, but arriving after
      // eviction: late by both watermarks, correctly yields nothing
      purchases.addData(Event(1, 100, ts(30), "purchase", 9.99))
      q.processAllAvailable()
      val got = spark.table("ssjoin_evict").as[(Long, Long)].collect().toSet
      assert(!got.exists(_._1 == 100L),
        s"late purchase must not match evicted click state: $got")
    } finally q.stop()
  }

  test("enrichStream joins a static dimension per micro-batch, keeping unmatched rows") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("dim_user", "tier")
    val in = MemoryStream[Event]
    val q = EventStream.enrichStream(in.toDF(), dim, "user_id", "dim_user")
      .select("event_id", "tier")
      .writeStream.format("memory").queryName("enrich").outputMode("append").start()
    try {
      in.addData(
        Event(1, 10, ts(0), "click", 1.0),
        Event(2, 11, ts(1), "view", 2.0),
        Event(7, 12, ts(2), "click", 3.0)) // no dimension row
      q.processAllAvailable()
      val got = spark.table("enrich").as[(Long, Option[String])].collect().toSet
      assert(got == Set((10L, Some("gold")), (11L, Some("silver")), (12L, None)))
    } finally q.stop()
  }

  test("upsertSink maintains a keyed serving table across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream").toString + "/serve"
    val in = MemoryStream[Event]
    // running per-user event counts, update mode → per-trigger delta =
    // exactly the keys that changed
    val counts = in.toDF().groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_events"))
    val q = EventStream.upsertSink(counts, dir, Seq("user_id"))
      .option("checkpointLocation", dir + "_ckpt").start()
    try {
      in.addData(Event(1, 1, ts(0), "click", 1.0), Event(2, 2, ts(1), "view", 1.0))
      q.processAllAvailable()
      assert(spark.read.parquet(dir).as[(Long, Long)].collect().toSet ==
        Set((1L, 1L), (2L, 1L)))
      // second batch: user 1 gets two more events, user 3 appears
      in.addData(Event(1, 3, ts(2), "click", 1.0), Event(1, 4, ts(3), "click", 1.0),
        Event(3, 5, ts(4), "view", 1.0))
      q.processAllAvailable()
      val got = spark.read.parquet(dir).as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 3L), (2L, 1L), (3L, 1L)))
    } finally q.stop()
  }

  test("cdcSink applies upserts and deletes across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream").toString + "/cdc"
    val in = MemoryStream[(Long, String, String)]
    val q = EventStream.cdcSink(in.toDF().toDF("k", "v", "_op"), dir, Seq("k"))
      .option("checkpointLocation", dir + "_ckpt").start()
    try {
      in.addData((1L, "a", "U"), (2L, "b", "U"), (3L, "c", "U"))
      q.processAllAvailable()
      assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c")))
      // update 1, delete 2, delete an absent key (no-op), insert 4
      in.addData((1L, "A2", "U"), (2L, "b", "D"), (9L, "x", "D"), (4L, "d", "U"))
      q.processAllAvailable()
      assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet ==
        Set((1L, "A2"), (3L, "c"), (4L, "d")))
      assert(!spark.read.parquet(dir).columns.contains("_op"),
        "op marker must not leak into the serving table")
    } finally q.stop()
  }

  test("sessionize recovers an OPEN session across a stop/restart (checkpoint)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("stream").toString
    val (out, ckpt) = (base + "/sess_out", base + "/sess_ckpt")
    val in = MemoryStream[Event]
    def start() = EventStream.sessionize(in.toDS(), gapSeconds = 1800)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    // run 1: two events 10 min apart — ONE open session, alive only in
    // the state store at stop
    val q1 = start()
    try {
      in.addData(Event(1, 1, ts(0), "click", 1.0), Event(1, 2, ts(10), "click", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.schema(
        "user_id long, session_start timestamp, session_end timestamp, " +
          "n_events long, sum_value double")
      .parquet(out).count() == 0, "session must still be open at stop")
    // restart: a third event 10 min later must EXTEND the recovered
    // session (lost state would start a fresh one); then far-future
    // events advance the watermark past the timeout and flush it
    val q2 = start()
    try {
      in.addData(Event(1, 3, ts(20), "click", 4.0))
      q2.processAllAvailable()
      in.addData(Event(2, 9, ts(600), "x", 0.0))
      q2.processAllAvailable()
      in.addData(Event(2, 10, ts(1200), "x", 0.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(out).filter($"user_id" === 1L)
      .select("n_events", "sum_value").as[(Long, Double)].collect().toSeq
    assert(got == Seq((3L, 7.0)),
      s"expected ONE recovered 3-event session, got $got")
  }

  test("versionedUpsertSink: out-of-order micro-batches converge to last-writer-wins") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream").toString + "/vup"
    val in = MemoryStream[(Long, String, Long)]
    val q = EventStream.versionedUpsertSink(
        in.toDF().toDF("k", "v", "ver"), dir, Seq("k"), "ver")
      .option("checkpointLocation", dir + "_ckpt").start()
    try {
      // NEWER versions arrive first
      in.addData((1L, "new1", 20L), (2L, "new2", 20L))
      q.processAllAvailable()
      // the older backfill lands after: keys 1-2 must NOT regress,
      // key 3 (only in the backfill) must appear
      in.addData((1L, "old1", 10L), (2L, "old2", 10L), (3L, "old3", 10L))
      q.processAllAvailable()
      assert(spark.read.parquet(dir).as[(Long, String, Long)].collect().toSet ==
        Set((1L, "new1", 20L), (2L, "new2", 20L), (3L, "old3", 10L)))
    } finally q.stop()
  }

  test("windowedAgg recovers open-window state across a stop/restart (checkpoint)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("stream").toString
    val (out, ckpt) = (base + "/out", base + "/ckpt")
    val in = MemoryStream[Event]
    def start() = EventStream.windowedAgg(in.toDF(), "5 minutes", "10 minutes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    // batch 1: two events land in the SAME 5-min window, then STOP —
    // the window is still open, its partial count lives only in the
    // state store.
    val q1 = start()
    try {
      in.addData(Event(1, 1, ts(0), "click", 1.0), Event(1, 2, ts(1), "click", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.schema(
        "window_start timestamp, event_type string, n bigint, sum_value double")
      .parquet(out).count() == 0, "window must still be open at stop")
    // restart from the same checkpoint: a third click joins the SAME
    // 5-min window (epoch-aligned: ts(0)'s window still has ~100 s of
    // room — +90 s is inside it), proving recovered state, not a
    // fresh count; then a far-future event closes everything.
    val tsS = (sec: Long) => new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val q2 = start()
    try {
      in.addData(Event(2, 3, ts(2), "view", 3.0), Event(1, 4, tsS(90), "click", 4.0))
      q2.processAllAvailable()
      in.addData(Event(3, 5, ts(120), "click", 9.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(out)
      .select("event_type", "n", "sum_value").as[(String, Long, Double)]
      .collect().toSet
    // the first click window holds events from BOTH runs: pre-stop
    // 1.0 + 2.0, post-restart 4.0 → n=3. A lost state store would
    // emit (click, 1, 4.0) beside a phantom — or double-count the
    // replayed batch to n=5 if offsets weren't committed.
    assert(got == Set(("click", 3L, 7.0), ("view", 1L, 3.0)), s"got $got")
  }

  test("histogramStream adds counts across micro-batches; quantiles from the sink") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    // 1-cent buckets: value 1.00 → bucket 100, 2.00 → 200 (bucketCents=1)
    val q = EventStream.histogramStream(in.toDF(), "1 hour", "10 minutes", bucketCents = 1L)
      .writeStream.format("memory").queryName("hq").outputMode("append").start()
    try {
      // same hour fed across TWO batches: three 1.00s then one 9.00
      in.addData(Event(1, 1, ts(0), "a", 1.0), Event(1, 2, ts(1), "a", 1.0))
      q.processAllAvailable()
      in.addData(Event(2, 3, ts(2), "a", 1.0), Event(2, 4, ts(3), "a", 9.0))
      q.processAllAvailable()
      in.addData(Event(9, 5, ts(120), "a", 1.0)) // advance watermark, close hour
      q.processAllAvailable()
      val hist = spark.table("hq")
      val winStart = (1700000000000000L / 3600000000L) * 3600000000L
      val rows = hist.as[(Long, Long, Long)].collect().toSet
      // counts MERGED across the two batches: bucket 100 has all 3 ones
      assert(rows.contains((winStart, 100L, 3L)) && rows.contains((winStart, 900L, 1L)))
      // finalize on the sink output: p50 within the ones, p90 at the 9.00
      val qs = EventStream.histogramQuantiles(
          hist.filter($"window_start_us" === winStart), Seq(500000L, 900000L), bucketCents = 1L)
        .as[(Long, Long, Long)].collect().toMap2
      assert(qs((winStart, 500000L)) == 101L) // upper edge of bucket 100
      assert(qs((winStart, 900000L)) == 901L)
    } finally q.stop()
  }

  private implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }

  test("vectorSearchSink: streamed answers equal direct index queries across batches") {
    val s = spark
    import s.implicits._
    implicit val sql = spark.sqlContext
    val dim = 4
    def vec(seed: Long): Array[Double] =
      Array.tabulate(dim)(d => (((seed * 7 + d * 3) % 11) - 5).toDouble)
    val corpus = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("vss").toString
    val (idx, out, ckpt) = (s"$base/idx", s"$base/out", s"$base/ckpt")
    graft.similarity.Ann.buildIvfIndex(corpus, "vec_id", "embedding", dim, idx,
      numCells = 4, kmeansIters = 2)
    val in = MemoryStream[(Long, Array[Double])]
    val q = EventStream.vectorSearchSink(
        in.toDF.toDF("vec_id", "embedding"), idx, "vec_id", "embedding",
        dim, k = 3, nProbe = 2, out)
      .option("checkpointLocation", ckpt).start()
    in.addData((100L, vec(100L)), (101L, vec(101L)))
    q.processAllAvailable()
    in.addData((102L, vec(102L)))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out)
      .select("probe_id", "rank", "vec_id", "cos") // drop the batch partition col
      .as[(Long, Long, Long, Double)].collect().toSet
    val probes = Seq(100L, 101L, 102L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val want = graft.similarity.Ann
      .ivfTopKIndexed(idx, probes, "vec_id", "embedding", dim, 3, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got.nonEmpty && got == want,
      s"streamed ${got.size} rows != direct ${want.size}")
  }

  test("appendSink: epochs land once; a replayed epoch never duplicates") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = s"${Scratch.root(spark)}/appspec_${System.nanoTime()}"
    val in = MemoryStream[(Long, String)]
    val q = EventStream.appendSink(in.toDF().toDF("k", "v"), s"$base/t")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    // crash replay of epoch 0 — with different physical row order, even
    val replay = Seq((2L, "b"), (1L, "a")).toDF("k", "v")
    EventStream.appendEpoch(replay, s"$base/t", 0L)
    val got = spark.read.parquet(s"$base/t").select("k", "v")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("snapshotEnrichSink: mid-stream dim flip picked up next trigger, stamped") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = s"${Scratch.root(spark)}/snapenr_${System.nanoTime()}"
    val dimRoot = s"$base/dim"
    graft.sinks.Snapshot.publish(spark, dimRoot,
      Map("d" -> Seq((10L, "old")).toDF("dk", "label")))
    val in = MemoryStream[(Long, Long)]
    val q = EventStream.snapshotEnrichSink(
        in.toDF().toDF("id", "dk"), dimRoot, "d", "dk", "dk", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      in.addData((1L, 10L), (2L, 99L)) // 99: no dim row — must survive
      q.processAllAvailable()
      graft.sinks.Snapshot.publish(spark, dimRoot,
        Map("d" -> Seq((10L, "new"), (99L, "late")).toDF("dk", "label")))
      in.addData((3L, 10L), (4L, 99L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$base/out")
      .select("id", "label", "dim_version")
      .as[(Long, Option[String], Long)].collect().toSet
    assert(got == Set(
      (1L, Some("old"), 1L), (2L, None, 1L),        // v1 enriched; miss kept
      (3L, Some("new"), 2L), (4L, Some("late"), 2L) // v2 after the flip
    ))
  }

  test("intervalAntiJoin: absence verdicts emit only when the watermark proves them") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = s"${Scratch.root(spark)}/anti_${System.nanoTime()}"
    val lin = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val rin = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val out = EventStream.intervalAntiJoin(
      lin.toDF().toDF("id", "k", "lts"), rin.toDF().toDF("rk", "rts"),
      "k", "rk", "lts", "rts", window = "10 minutes", watermark = "5 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("anti_res")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      // left: id 1 (k=7, t=0) converts at t=5; id 2 (k=7, t=30) has the
      // purchase BEFORE its window; id 3 (k=9, t=2) no right activity
      lin.addData((1L, 7L, ts(0)), (2L, 7L, ts(30)), (3L, 9L, ts(2)))
      rin.addData((7L, ts(5)))
      q.processAllAvailable()
      // nothing final yet: watermark has not passed t+window for any row
      assert(spark.table("anti_res").count() == 0L)
      // advance event time far past every deadline on BOTH sides
      lin.addData((99L, 1L, ts(120))); rin.addData((1L, ts(120)))
      q.processAllAvailable()
      val got = spark.table("anti_res").select("id").as[Long].collect().toSet
      assert(got == Set(2L, 3L)) // 1 converted; 2 and 3 proven unmatched
    } finally q.stop()
  }

  test("clampedBalanceStream carries wallet state across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = s"${Scratch.root(spark)}/wallet_${System.nanoTime()}"
    def ts(n: Long) = new java.sql.Timestamp(n * 1000L)
    val in = MemoryStream[graft.streaming.WalletDelta]
    val q = graft.streaming.EventStream.clampedBalanceStream(in.toDS())
      .writeStream.outputMode("append").format("memory").queryName("wallet_res")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      // batch 1: +5 then -10 (clamps at 0, rejects 5)
      in.addData(graft.streaming.WalletDelta(1L, 1L, ts(1), 5L),
        graft.streaming.WalletDelta(1L, 2L, ts(2), -10L))
      q.processAllAvailable()
      // batch 2: +3 on the carried zero state, then -1
      in.addData(graft.streaming.WalletDelta(1L, 3L, ts(3), 3L),
        graft.streaming.WalletDelta(1L, 4L, ts(4), -1L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wallet_res")
      .as[graft.streaming.WalletMove].collect().sortBy(_.event_id).toList
    assert(got == List(
      graft.streaming.WalletMove(1L, 1L, 5L, 0L),
      graft.streaming.WalletMove(1L, 2L, 0L, 5L),
      graft.streaming.WalletMove(1L, 3L, 3L, 5L),
      graft.streaming.WalletMove(1L, 4L, 2L, 5L)))
  }

  test("rateCapStream carries the per-window counter across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = s"${Scratch.root(spark)}/ratecap_${System.nanoTime()}"
    // windowUs = 10s; events at seconds 1..5 share window 0, second 12
    // opens window 1. Cap 2 per window.
    def ev(id: Long, sec: Long) = graft.streaming.Event(
      7L, id, new java.sql.Timestamp(sec * 1000L), "click", 1.0)
    val in = MemoryStream[graft.streaming.Event]
    val q = graft.streaming.EventStream
      .rateCapStream(in.toDS(), windowUs = 10000000L, maxPerWindow = 2)
      .writeStream.outputMode("append").format("memory").queryName("cap_res")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      in.addData(ev(1L, 1L), ev(2L, 2L)) // fills window 0's budget
      q.processAllAvailable()
      // batch 2: same window — counter must CONTINUE at 3, both denied;
      // the new window starts a fresh counter
      in.addData(ev(3L, 3L), ev(4L, 4L), ev(5L, 12L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cap_res")
      .as[graft.streaming.CapVerdict].collect().sortBy(_.event_id).toList
    assert(got == List(
      graft.streaming.CapVerdict(7L, 1L, 0L, 1L, true),
      graft.streaming.CapVerdict(7L, 2L, 0L, 2L, true),
      graft.streaming.CapVerdict(7L, 3L, 0L, 3L, false),
      graft.streaming.CapVerdict(7L, 4L, 0L, 4L, false),
      graft.streaming.CapVerdict(7L, 5L, 10000000L, 1L, true)))
  }

  test("funnelStream advances per-user stage across micro-batches with window enforcement") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = s"${Scratch.root(spark)}/funnel_${System.nanoTime()}"
    def ev(u: Long, id: Long, sec: Long, t: String) = graft.streaming.Event(
      u, id, new java.sql.Timestamp(sec * 1000L), t, 1.0)
    val in = MemoryStream[graft.streaming.Event]
    // click window 10s, purchase window 100s
    val q = graft.streaming.EventStream
      .funnelStream(in.toDS(), clickWithinUs = 10000000L,
        purchaseWithinUs = 100000000L)
      .writeStream.outputMode("append").format("memory").queryName("funnel_res")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      // batch 1: user 1 views at t=1; user 2 views at t=1
      in.addData(ev(1L, 1L, 1L, "view"), ev(2L, 2L, 1L, "view"))
      q.processAllAvailable()
      // batch 2: user 1 clicks at t=5 (inside 10s window, carried
      // across the batch boundary); user 2 clicks at t=20 (LATE —
      // outside the window, must NOT advance)
      in.addData(ev(1L, 3L, 5L, "click"), ev(2L, 4L, 20L, "click"))
      q.processAllAvailable()
      // batch 3: user 1 purchases at t=50 (inside 100s of the click)
      in.addData(ev(1L, 5L, 50L, "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    // the LATEST row per user is the live funnel position
    val got = spark.table("funnel_res")
      .as[graft.streaming.FunnelUser].collect()
      .groupBy(_.user_id)
      .map { case (u, rows) => u -> rows.maxBy(_.stage) }
    assert(got(1L) == graft.streaming.FunnelUser(1L, 2L,
      Some(1000000L), Some(5000000L), Some(50000000L)))
    assert(got(2L) == graft.streaming.FunnelUser(2L, 0L,
      Some(1000000L), None, None))
  }

  test("asofEnrichStream carries the latest view across batches; pre-view purchases stay bare") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = s"${Scratch.root(spark)}/asofe_${System.nanoTime()}"
    def ev(u: Long, id: Long, sec: Long, t: String, v: Double) =
      graft.streaming.Event(u, id, new java.sql.Timestamp(sec * 1000L), t, v)
    val in = MemoryStream[graft.streaming.Event]
    val q = graft.streaming.EventStream.asofEnrichStream(in.toDS())
      .writeStream.outputMode("append").format("memory").queryName("asof_res")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      // batch 1: user 1 purchases BEFORE any view (stays bare), then
      // views at t=5; user 2 views at t=1
      in.addData(ev(1L, 1L, 1L, "purchase", 9.0), ev(1L, 2L, 5L, "view", 2.5),
        ev(2L, 3L, 1L, "view", 7.0))
      q.processAllAvailable()
      // batch 2: user 1 purchases at t=50 — the t=5 view carried ACROSS
      // the batch boundary enriches it; a newer view at t=60 then
      // supersedes it for the t=70 purchase IN the same batch
      in.addData(ev(1L, 4L, 50L, "purchase", 1.0),
        ev(1L, 5L, 60L, "view", 3.75), ev(1L, 6L, 70L, "purchase", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("asof_res")
      .as[graft.streaming.AsofEnriched].collect().map(r => r.event_id -> r).toMap
    assert(got(1L) == graft.streaming.AsofEnriched(1L, 1L, 1000000L, None, None))
    assert(got(4L) == graft.streaming.AsofEnriched(1L, 4L, 50000000L,
      Some(5000000L), Some(250L)))
    assert(got(6L) == graft.streaming.AsofEnriched(1L, 6L, 70000000L,
      Some(60000000L), Some(375L)))
    assert(!got.contains(3L), "views must not emit rows")
  }

  test("patternSessions: sessions close on timeout with the regex verdict; cap truncates") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = s"${Scratch.root(spark)}/patsess_${System.nanoTime()}"
    def ev(id: Long, u: Long, min: Long, t: String) = // day-1 base: an
      // event AT the initial zero watermark would be dropped as late
      graft.streaming.Event(u, id,
        new java.sql.Timestamp(86400000L + min * 60000L), t, 0.0)
    val in = MemoryStream[graft.streaming.Event]
    val q = graft.streaming.EventStream
      .patternSessions(in.toDS(), "vc*p", gapSeconds = 1800, maxSymbols = 3)
      .writeStream.outputMode("append").format("memory").queryName("pat_res")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      // user 1: v,c spread across two micro-batches (state carries),
      // then p -> one session "vcp", matched
      in.addData(ev(1, 1L, 0, "view"), ev(2, 1L, 5, "click"))
      q.processAllAvailable()
      in.addData(ev(3, 1L, 10, "purchase"))
      // user 2: four events -> capped at 3 symbols, truncated flag
      in.addData(ev(4, 2L, 0, "view"), ev(5, 2L, 1, "click"),
        ev(6, 2L, 2, "click"), ev(7, 2L, 3, "click"))
      q.processAllAvailable()
      assert(spark.table("pat_res").count() == 0L) // nothing timed out yet
      // event far in the future moves the watermark past both timeouts
      in.addData(ev(99, 9L, 600, "error"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("pat_res")
      .select("user_id", "seq", "truncated", "matched", "n_matches")
      .as[(Long, String, Boolean, Boolean, Long)].collect().toSet
    assert(got == Set(
      (1L, "vcp", false, true, 1L),
      (2L, "vcc", true, false, 0L)))
  }

  test("histogramDrift: hand-checked shares, lost-bucket contribution, tie-break") {
    import spark.implicits._
    // window w1: buckets {0:3, 1:1} -> shares {750000, 250000}
    // ref: {0:1, 1:1, 2:2} -> shares {250000, 250000, 500000}
    // drift: b0=500000, b1=0, b2=500000 (lost bucket counts fully)
    // l1=1000000, max=500000, worst = min(0, 2) = 0
    val hist = Seq((7L, 0L, 3L), (7L, 1L, 1L)).toDF("window_start_us", "bucket", "cnt")
    val ref = Seq((0L, 1L), (1L, 1L), (2L, 2L)).toDF("bucket", "ref_cnt")
    val got = EventStream.histogramDrift(hist, ref)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got == List((7L, 4L, 1000000L, 500000L, 0L)))
    // identical distribution -> zero drift everywhere
    val same = Seq((7L, 0L, 2L), (7L, 1L, 2L), (7L, 2L, 4L))
      .toDF("window_start_us", "bucket", "cnt")
    val zero = EventStream.histogramDrift(same, ref)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(zero == List((7L, 8L, 0L, 0L, 0L)))
  }

  test("histogramDrift finalizes a streamed histogram identically to batch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val events = (1 to 60).map(i =>
      Event(i % 5L, i.toLong, ts(i % 90), "m", (i % 7) * 1.0))
    val ref = Seq((0L, 5L), (3L, 5L), (6L, 2L)).toDF("bucket", "ref_cnt")
    val direct = EventStream.histogramDrift(
      EventStream.histogramStream(events.toDF(), "1 hour", bucketCents = 100L), ref)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val in = MemoryStream[Event]
    val q = EventStream.histogramStream(in.toDF(), "1 hour", "10 minutes", bucketCents = 100L)
      .writeStream.format("memory").queryName("hd").outputMode("append").start()
    try {
      events.grouped(20).foreach { g => in.addData(g: _*); q.processAllAvailable() }
      in.addData(Event(9, 999, ts(600), "m", 1.0)) // advance watermark
      q.processAllAvailable()
      val streamedWindows = spark.table("hd")
        .filter($"window_start_us".isin(direct.map(_._1).toSeq: _*))
      val got = EventStream.histogramDrift(streamedWindows, ref)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got.nonEmpty && got == direct)
    } finally q.stop()
  }

  test("anomalyStream flags a spike against the key's prior history only") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.anomalyStream(in.toDS(), minPrior = 5, zThreshold = 3)
      .writeStream.format("memory").queryName("anom").outputMode("append").start()
    try {
      // 10 steady events at 1.00, then a 50.00 spike, then steady again
      in.addData((1 to 10).map(i => Event(7, i, ts(i), "m", 1.0)): _*)
      q.processAllAvailable()
      in.addData(Event(7, 11, ts(11), "m", 50.0), Event(7, 12, ts(12), "m", 1.0))
      q.processAllAvailable()
      val flagged = spark.table("anom").where($"is_anomaly")
        .select("event_id", "cents", "n_prior").as[(Long, Long, Long)].collect().toSet
      // zero-variance history: any deviation flags; the spike is event 11.
      // event 12 (back to 1.00) judges against a history CONTAINING the
      // spike — variance is now large, so it must not flag.
      assert(flagged == Set((11L, 5000L, 10L)), s"got $flagged")
      // warm-up: a different key's first events never flag
      in.addData(Event(8, 20, ts(20), "m", 999.0))
      q.processAllAvailable()
      assert(spark.table("anom").where($"user_id" === 8 && $"is_anomaly").isEmpty)
    } finally q.stop()
    // batch, 20 keys x 600 steady 1.00 events with a 100.00 spike at
    // position 500: exactly one flag per key
    val spikes = spark.range(12000L).select(($"id" % 20L).as("user_id"), $"id".as("event_id"),
        expr("timestamp_micros((id div 20) * 1000000)").as("ts"), lit("m").as("event_type"),
        expr("CASE WHEN id div 20 = 500 THEN 100.0D ELSE 1.0D END").as("value"))
      .as[Event]
    assert(EventStream.anomalyStream(spikes).filter($"is_anomaly")
      .select("user_id").as[Long].collect().sorted.toSeq == (0L until 20L))
  }

  test("anomalyStream streaming verdicts equal the batch full-history twin") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val events = (1 to 120).map { i =>
      Event(i % 3L, i.toLong, ts(i),
        "m", if (i % 37 == 0) 80.0 + i else rnd.nextDouble() * 4.0)
    }
    val want = EventStream.anomalyStream(events.toDS(), minPrior = 5)
      .collect().toSet
    val in = MemoryStream[Event]
    val q = EventStream.anomalyStream(in.toDS(), minPrior = 5)
      .writeStream.format("memory").queryName("anom_eq").outputMode("append").start()
    try {
      // deliver in event order across three micro-batches: the running
      // state must accumulate identically to the batch replay
      events.grouped(40).foreach { g => in.addData(g: _*); q.processAllAvailable() }
      val got = spark.table("anom_eq")
        .as[graft.streaming.AnomalyVerdict].collect().toSet
      assert(got == want && want.exists(_.is_anomaly))
    } finally q.stop()
  }

  test("concurrencyStream finalizes a bucket's peak under watermark; cross-bucket pieces stay self-contained") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // hour-aligned base so bucket boundaries are explicit
    val baseMs = 472223L * 3600000L
    def tsh(min: Long) = new java.sql.Timestamp(baseMs + min * 60000L)
    val b0 = (baseMs * 1000L) / 3600000000L
    val in = MemoryStream[java.sql.Timestamp]
    val q = EventStream.concurrencyStream(in.toDF().withColumnRenamed("value", "ts"),
        "ts", lenUs = 30L * 60000000L, bucketUs = 3600000000L,
        watermark = "1 hour")
      .writeStream.format("memory").queryName("conc").outputMode("append").start()
    try {
      // [0,30) and [10,40) overlap → peak 2 in bucket b0
      in.addData(tsh(0), tsh(10))
      q.processAllAvailable()
      // [50,80) spans b0 and b0+1: piece [50,60) in b0, [60,80) in b0+1
      in.addData(tsh(50))
      q.processAllAvailable()
      assert(spark.table("conc").isEmpty, "bucket must not emit while open")
      // watermark to min 70 (130 − 60): closes b0 (end 60), not b0+1
      in.addData(tsh(130))
      q.processAllAvailable()
      val rows = spark.table("conc")
        .as[graft.streaming.BucketPeak].collect().map(r => r.bucket -> r).toMap
      assert(rows.keySet == Set(b0))
      assert(rows(b0).peak == 2L && rows(b0).n_pieces == 3L)
      // close b0+1: its only piece [60,80) has peak 1
      in.addData(tsh(260))
      q.processAllAvailable()
      val r1 = spark.table("conc").as[graft.streaming.BucketPeak]
        .collect().map(r => r.bucket -> r).toMap
      assert(r1(b0 + 1).peak == 1L && r1(b0 + 1).n_pieces == 1L)
    } finally q.stop()
  }

  test("reconcileStream merges header and lines across micro-batches, finalizes at horizon") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // no-data batches off: the verdicts are due in the batch after the
    // watermark passes them, where the straggler line for order 1
    // arrives too and is folded into its verdict
    for ((noData, (lines1, n1)) <- Seq(true -> (1000L, 2L), false -> (1007L, 3L))) {
      val name = s"recon_$noData"
      val in = MemoryStream[(Long, String, Long, java.sql.Timestamp)]
      val q = toMemory(EventStream.reconcileStream(
          in.toDF().toDF("okey", "kind", "cents", "ts"),
          "okey", "kind", "cents", "ts",
          horizonUs = 30L * 60000000L, watermark = "10 minutes"), name, noData)
      try {
        // order 1: lines arrive BEFORE the header, split across batches
        in.addData((1L, "L", 600L, ts(0)), (1L, "L", 400L, ts(1)))
        q.processAllAvailable()
        in.addData((1L, "H", 1000L, ts(2)), (2L, "L", 50L, ts(2)))
        q.processAllAvailable()
        assert(spark.table(name).isEmpty, "no verdict before the horizon closes")
        // watermark to min 50 (60 − 10): past order 1's deadline (min 30),
        // past order 2's (min 32) — order 2 is headerless, still reported
        in.addData((9L, "L", 1L, ts(60)))
        q.processAllAvailable()
        if (noData) assert(spark.table(name).count() == 2)
        // straggler line for order 1
        in.addData((1L, "L", 7L, ts(3)))
        q.processAllAvailable()
        in.addData((9L, "L", 1L, ts(120)))
        q.processAllAvailable()
        val rows = spark.table(name).filter($"okey" < 9L)
          .as[graft.streaming.ReconVerdict].collect()
        assert(rows.map(_.okey).sorted.toSeq == Seq(1L, 2L), s"no-data batches $noData")
        val byKey = rows.map(r => r.okey -> r).toMap
        assert(byKey(1L) == graft.streaming.ReconVerdict(1L, 1L, Some(1000L), lines1, n1,
          Some(lines1 - 1000L)))
        assert(byKey(2L) == graft.streaming.ReconVerdict(2L, 0L, None, 50L, 1L, None))
      } finally q.stop()
    }
  }

  test("reconcileStream batch twin flags drift, double headers, and headerless orders") {
    import spark.implicits._
    val rows = Seq(
      (1L, "H", 100L, ts(0)), (1L, "L", 60L, ts(1)), (1L, "L", 40L, ts(2)),
      (2L, "H", 100L, ts(0)), (2L, "L", 99L, ts(1)),
      (3L, "L", 5L, ts(0)),                       // headerless
      (4L, "H", 10L, ts(0)), (4L, "H", 10L, ts(1)) // double header
    ).toDF("okey", "kind", "cents", "ts")
    val got = EventStream.reconcileStream(rows, "okey", "kind", "cents", "ts",
        horizonUs = 1000000L)
      .collect().map(r => r.okey -> r).toMap
    assert(got(1L).abs_diff.contains(0L))
    assert(got(2L).abs_diff.contains(1L))
    assert(got(3L).header_cents.isEmpty && got(3L).abs_diff.isEmpty)
    assert(got(4L).n_headers == 2L && got(4L).abs_diff.isEmpty)
  }

  test("dupPaymentStream alarms on an in-window repeat across micro-batches, evicts idle keys") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, java.sql.Timestamp)]
    val q = EventStream.dupPaymentStream(
        in.toDF().toDF("cust", "okey", "cents", "ts"),
        "cust", "okey", "cents", "ts",
        windowUs = 30L * 60000000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("dup").outputMode("append").start()
    try {
      in.addData((7L, 1L, 500L, ts(0)), (7L, 2L, 999L, ts(1)))
      q.processAllAvailable()
      assert(spark.table("dup").isEmpty)
      // same (cust, cents) 10 minutes later, next micro-batch → alarm
      in.addData((7L, 3L, 500L, ts(10)))
      q.processAllAvailable()
      val rows = spark.table("dup").as[graft.streaming.DupAlarm].collect().toList
      assert(rows == List(graft.streaming.DupAlarm(7L, 500L, 1L, 3L, 0L)))
      // advance watermark far past the window: key state evicts, so a
      // much-later repeat is a FIRST payment again (out of window)
      in.addData((8L, 9L, 1L, ts(120)))
      q.processAllAvailable()
      in.addData((7L, 4L, 500L, ts(130)))
      q.processAllAvailable()
      in.addData((8L, 10L, 1L, ts(200)))
      q.processAllAvailable()
      assert(spark.table("dup").count() == 1, "evicted key must not pair")
    } finally q.stop()
  }

  test("concurrencyStream batch twin equals the brute-force max open count per bucket") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val hourUs = 3600000000L
    val tss = (1 to 300).map(_ =>
      new java.sql.Timestamp(1700000000000L + rnd.nextInt(10 * 3600 * 1000).toLong))
    val df = tss.toDF("ts")
    val got = EventStream.concurrencyStream(df, "ts", hourUs, hourUs)
      .collect().map(p => p.bucket -> p.peak).toMap
    // ground truth: for each emitted bucket, the max over its critical
    // instants (bucket start + every endpoint inside it) of the number
    // of intervals open (end-exclusive) at that instant
    val iv = tss.map(t => (t.getTime * 1000L, t.getTime * 1000L + hourUs))
    def openAt(t: Long) = iv.count { case (s, e) => s <= t && t < e }.toLong
    got.foreach { case (b, peak) =>
      val instants = (b * hourUs) +:
        iv.flatMap { case (s, e) => Seq(s, e) }
          .filter(t => t >= b * hourUs && t < (b + 1) * hourUs)
      val want = instants.map(openAt).max
      assert(peak == want, s"bucket $b: got $peak want $want")
    }
    // and every bucket any interval covers is emitted
    val covered = iv.flatMap { case (s, e) =>
      (s / hourUs) to ((e - 1) / hourUs) }.toSet
    assert(got.keySet == covered)
    // a 1440 s day, 4 intervals of 30 s starting at every second, 60 s
    // buckets: each bucket of the day peaks at 30 * 4 open intervals;
    // the spill bucket 24 peaks at its start with 29 * 4 still open
    val day = spark.range(1440L * 4).select(timestamp_micros(($"id" % 1440L) * 1000000L).as("ts"))
    val peaks = EventStream.concurrencyStream(day, "ts", 30L * 1000000L, 60L * 1000000L)
      .collect().map(p => p.bucket -> p.peak).toMap
    assert(peaks == ((0L to 23L).map(_ -> 120L) :+ (24L -> 116L)).toMap)
  }

  test("sessionize and dedupStream over a parquet file source agree with their batch answers") {
    import spark.implicits._
    // the file source reads a directory: stage one events file in one
    val dir = java.nio.file.Files.createTempDirectory("events_stream").toString + "/events"
    val events = (1L to 300L).map(i =>
      Event(i % 7, i, ts(i * 37 % 900 + (if (i % 5 == 0) 2000 else 0)), "click", (i % 11).toDouble))
    events.toDS().coalesce(1).write.parquet(dir)
    val source = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val sq = toMemory(EventStream.sessionize(source.as[Event], 1800), "file_sessions")
    val dq = toMemory(EventStream.dedupStream(source.select("event_id", "ts"), Seq("event_id")),
      "file_dedup")
    try {
      sq.processAllAvailable()
      dq.processAllAvailable()
      // sessions still open when the file is drained never close, so the
      // stream's sessions are a subset of the batch call's
      val streamed = spark.table("file_sessions").as[graft.streaming.Session].collect()
      val batch = EventStream.sessionize(events.toDS(), 1800).collect().toSet
      assert(streamed.nonEmpty && streamed.forall(batch.contains),
        s"${streamed.filterNot(batch.contains).toSeq} not among the batch sessions")
      assert(spark.table("file_dedup").count() == events.size)
    } finally { sq.stop(); dq.stop() }
  }

  test("snapshotPublishSink: per-batch gated versions, time travel, duplicate keys refused") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = s"${Scratch.root(spark)}/snap_sink_spec_${System.nanoTime()}"
    val in = MemoryStream[(Long, Long)]
    val q = EventStream.snapshotPublishSink(
        in.toDF().toDF("k", "v"), s"$base/root", "t", Seq("k"))
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      in.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      in.addData((2L, 99L), (3L, 30L)) // update k=2, add k=3
      q.processAllAvailable()
      assert(graft.sinks.Snapshot.currentVersion(spark, s"$base/root") == 2L)
      // prod serves the LWW end state
      val prod = graft.sinks.Snapshot.readTag(spark, s"$base/root", "t", "prod")
        .as[(Long, Long)].collect().toMap
      assert(prod == Map(1L -> 10L, 2L -> 99L, 3L -> 30L))
      // v1 (the pre-update state) is still time-travelable
      val v1 = graft.sinks.Snapshot.read(spark, s"$base/root", "t", asOfVersion = Some(1L))
        .as[(Long, Long)].collect().toMap
      assert(v1 == Map(1L -> 10L, 2L -> 20L))
      // a batch with duplicate keys has no deterministic winner: refuse
      in.addData((4L, 1L), (4L, 2L))
      val e = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("duplicate keys")), msgs(e).mkString(" | "))
      // the refused batch published nothing — prod still serves v2
      assert(graft.sinks.Snapshot.currentVersion(spark, s"$base/root") == 2L)
    } finally q.stop()
  }

  test("snapshotPublishSink is a namespace citizen: links carry other tables, " +
      "bootstraps into live namespaces, refuses NULL keys (ADVICE r15)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = s"${Scratch.root(spark)}/snap_sink_ns_${System.nanoTime()}"
    val root = s"$base/root"
    // a namespace that ALREADY serves a batch-published dim table
    graft.sinks.Snapshot.publish(spark, root,
      Map("dims" -> Seq((1L, "a"), (2L, "b")).toDF("id", "s")))
    graft.sinks.Snapshot.tag(spark, root, "prod", 1L)
    val in = MemoryStream[(Long, Long)]
    val q = EventStream.snapshotPublishSink(
        in.toDF().toDF("k", "v"), root, "t", Seq("k"))
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      // bootstrap: 't' is absent at v1 — the merge read must be
      // skipped, not throw (the r15 publishCompatible path did)
      in.addData((1L, 10L))
      q.processAllAvailable()
      in.addData((1L, 11L), (2L, 20L))
      q.processAllAvailable()
      assert(graft.sinks.Snapshot.currentVersion(spark, root) == 3L)
      // the governed read surface did NOT shrink: prod still serves
      // 'dims' (carried by _LINKS reference, not rewritten) AND the
      // streamed table's LWW state
      val dims = graft.sinks.Snapshot.readTag(spark, root, "dims", "prod")
        .as[(Long, String)].collect().toMap
      assert(dims == Map(1L -> "a", 2L -> "b"))
      val t = graft.sinks.Snapshot.readTag(spark, root, "t", "prod")
        .as[(Long, Long)].collect().toMap
      assert(t == Map(1L -> 11L, 2L -> 20L))
      // carried by reference: v3 holds no physical 'dims' copy
      assert(!new java.io.File(s"$root/v3/dims").exists())
      assert(graft.sinks.Snapshot.tables(spark, root, 3L).toSet == Set("dims", "t"))
      // a NULL-keyed row has no upsert identity: refused BY NAME
      import org.apache.spark.sql.functions.{col, lit, when}
      val nullable = MemoryStream[Long]
      val qn = EventStream.snapshotPublishSink(
          nullable.toDF().select(
            when(col("value") === 0L, lit(null)).otherwise(col("value")).as("k"),
            col("value").as("v")),
          root, "t", Seq("k"))
        .option("checkpointLocation", s"$base/ckpt2").start()
      try {
        nullable.addData(0L, 5L)
        val e = intercept[Exception] { qn.processAllAvailable() }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("NULL-keyed")), msgs(e).mkString(" | "))
        assert(graft.sinks.Snapshot.currentVersion(spark, root) == 3L)
      } finally qn.stop()
    } finally q.stop()
  }

  test("snapshotBranchSink (D29): the stream advances only its branch; prod gains " +
    "the feed atomically at merge") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = s"${Scratch.root(spark)}/branch_sink_spec_${System.nanoTime()}"
    val root = s"$base/root"
    graft.sinks.Snapshot.publish(spark, root,
      Map("dim" -> Seq((1L, "a"), (2L, "b")).toDF("k", "s"))) // v1
    graft.sinks.Snapshot.tag(spark, root, "prod", 1L)
    graft.sinks.Snapshot.branch(spark, root, "feed", "prod")
    val in = MemoryStream[(Long, Long)]
    val q = EventStream.snapshotBranchSink(
        in.toDF().toDF("k", "v"), root, "live", Seq("k"), "feed")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      in.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      // mid-stream: prod pinned at v1 and does NOT serve the feed...
      assert(graft.sinks.Snapshot.tagVersion(spark, root, "prod") == 1L)
      intercept[Exception] {
        graft.sinks.Snapshot.readTag(spark, root, "live", "prod").count()
      }
      // ...while the branch serves the feed JOINED with its carried base
      assert(graft.sinks.Snapshot.readTag(spark, root, "live", "feed")
        .count() == 2L)
      assert(graft.sinks.Snapshot.readTag(spark, root, "dim", "feed")
        .count() == 2L)
      in.addData((2L, 99L), (3L, 30L))
      q.processAllAvailable()
    } finally q.stop()
    // merge back: prod atomically gains the LWW end state + keeps dim
    graft.sinks.Snapshot.mergeRef(spark, root, "feed", "prod")
    val prod = graft.sinks.Snapshot.readTag(spark, root, "live", "prod")
      .as[(Long, Long)].collect().toMap
    assert(prod == Map(1L -> 10L, 2L -> 99L, 3L -> 30L))
    assert(graft.sinks.Snapshot.readTag(spark, root, "dim", "prod").count() == 2L)
  }

  test("nearDupGateSink compaction: verdicts identical with and without; state dirs bounded") {
    import spark.implicits._
    val base0 =
      "spark scans the parquet files and joins the dimension tables before " +
        "aggregating revenue per nation across all regions in the warehouse"
    val near0 =
      "spark scans the parquet files and joins the dimension tables before " +
        "aggregating profit per nation across all regions in the warehouse"
    val other =
      "completely different text about streaming watermarks and stateful " +
        "session windows over late arriving events from mobile clients"
    val fresh =
      "entirely new crawl content about bucketed parquet sinks and " +
        "compaction policies for small file rewrites in the table layer"
    val freshDup =
      "entirely new crawl content about bucketed parquet sinks and " +
        "compaction policies for large file rewrites in the table layer"
    def uniq(i: Int) =
      s"unique document number $i covering an unrelated subject like " +
        s"topic$i gardens weather chess harbors trains and museum $i exhibits"
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq((1L, base0), (2L, other)),
      Seq((3L, near0), (4L, fresh)),        // 3 dups 1 cross-batch
      Seq((5L, freshDup), (6L, uniq(6))),   // 5 dups 4 cross-batch
      Seq((7L, base0), (8L, uniq(8))),      // 7 dups 1 across a compact
      Seq((9L, other), (10L, uniq(10))))    // 9 dups 2 across two compactions
    def run(compactEvery: Int): (Map[Long, Boolean], Set[Long], Seq[String]) = {
      implicit val sql = spark.sqlContext
      val root = s"${Scratch.root(spark)}/ndcompact_${compactEvery}_${System.nanoTime()}"
      val in = MemoryStream[(Long, String)]
      val q = EventStream.nearDupGateSink(
          in.toDF().toDF("doc_id", "text"), "doc_id", "text",
          s"$root/accept", s"$root/state", s"$root/verdict",
          threshold = 0.5, compactEvery = compactEvery)
        .option("checkpointLocation", s"$root/ckpt").start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      val verdicts = spark.read.parquet(s"$root/verdict")
        .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
      val accepted = spark.read.parquet(s"$root/accept")
        .select("doc_id").as[Long].collect().toSet
      val stateDirs = new java.io.File(s"$root/state").listFiles()
        .filter(f => f.isDirectory && !f.getName.startsWith("."))
        .map(_.getName).toSeq.sorted
      (verdicts, accepted, stateDirs)
    }
    val (vNone, aNone, dNone) = run(compactEvery = 100) // never compacts
    val (vComp, aComp, dComp) = run(compactEvery = 2)   // compacts aggressively
    // the cross-batch kills land, including across compaction folds
    assert(vComp == Map(1L -> true, 2L -> true, 3L -> false, 4L -> true,
      5L -> false, 6L -> true, 7L -> false, 8L -> true, 9L -> false, 10L -> true),
      s"got $vComp")
    // state ROWS are the contract: compaction changes no verdict, no accept
    assert(vComp == vNone && aComp == aNone)
    // state FILES are bounded: one compact dir + the batches above it,
    // instead of one dir per batch forever
    assert(dNone.size == batches.size, s"got $dNone")
    assert(dComp == Seq("b4", "compact_3"), s"got $dComp")
  }

  test("nearDupGateSink kills exact copies of shingle-less docs; refuses a keyless state") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = s"${Scratch.root(spark)}/ndkey_${System.nanoTime()}"
    val in = MemoryStream[(Long, String)]
    val q = EventStream.nearDupGateSink(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$root/accept", s"$root/state", s"$root/verdict")
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      // under 3 words: no shingles, so only the text key can match them
      in.addData(Seq((1L, "two words"), (2L, "")))
      q.processAllAvailable()
      in.addData(Seq((3L, "two words"), (4L, null.asInstanceOf[String])))
      q.processAllAvailable()
      val verdicts = spark.read.parquet(s"$root/verdict")
        .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
      assert(verdicts == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false),
        s"got $verdicts")
      // a state dir as written before the text key was kept
      Seq((1L, Array(1L), 1L)).toDF("doc_id", "sh", "batch")
        .write.mode("overwrite").parquet(s"$root/state/b1")
      in.addData(Seq((5L, "two words")))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("no text_md5 column")), e.toString)
    } finally q.stop()
  }

  test("mediaRouteSink routes payloads by container format; garbage quarantines (D32)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def hx(s: String): Array[Byte] =
      s.replaceAll("\\s", "").sliding(2, 2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    val png = hx("89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 08 02 000000")
    val wav = hx("52494646 24000000 57415645 666D7420 10000000 0100 0100 803E0000 00000000 0000 1000")
    val jpg = hx("FFD8 FFE0 0010 4A46494600010100000100010000 FFC0 0011 08 00C8 0140 03 011100 021101 031101")
    val junk = "just some text".getBytes("UTF-8")
    val root = s"${Scratch.root(spark)}/mroute_spec_${System.nanoTime()}"
    val in = MemoryStream[(Long, Array[Byte])]
    val q = EventStream.mediaRouteSink(
        in.toDF().toDF("media_id", "p"), "p", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      in.addData((1L, png), (2L, wav))
      q.processAllAvailable()
      in.addData((3L, jpg), (4L, junk))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$root/out")
    // routed exactly once each, by format, with the header metadata
    val got = out.select("media_id", "format", "width", "sample_rate")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ("png", 640L, 0L), 2L -> ("wav", 0L, 16000L),
      3L -> ("jpeg", 320L, 0L), 4L -> ("unknown", 0L, 0L)), s"got $got")
    assert(out.count() == 4L)
    // per-format consumers prune to their partition directory
    assert(spark.read.parquet(s"$root/out")
      .filter(org.apache.spark.sql.functions.col("format") === "png")
      .select("media_id").as[Long].collect().toList == List(1L))
    assert(new java.io.File(s"$root/out/batch=1/format=unknown").isDirectory)
    // r18 observability: per-batch route counts in the SIBLING metrics
    // store — quarantine included, and the data read above never saw it
    val counts = spark.read.parquet(s"$root/out_metrics")
      .select("batch", "format", "n")
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts == Map(
      (0, "png") -> 1L, (0, "wav") -> 1L,
      (1, "jpeg") -> 1L, (1, "unknown") -> 1L), s"got $counts")
  }

  test("mediaRouteSink: an empty micro-batch writes nothing and the query survives (ADVICE r18)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = s"${Scratch.root(spark)}/mroute_empty_${System.nanoTime()}"
    val in = MemoryStream[(Long, Array[Byte])]
    // the filter empties batch 0 entirely — the old read-back of a
    // parquet-less batch dir failed schema inference and killed the query
    val q = EventStream.mediaRouteSink(
        in.toDF().toDF("media_id", "p")
          .filter(org.apache.spark.sql.functions.col("media_id") >= 0L),
        "p", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      in.addData((-1L, "x".getBytes("UTF-8")))
      q.processAllAvailable()
      in.addData((1L, "y".getBytes("UTF-8")))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
    } finally q.stop()
    // neither the data dir nor the metrics dir exists for the empty batch
    assert(!new java.io.File(s"$root/out/batch=0").exists())
    assert(!new java.io.File(s"$root/out_metrics/batch=0").exists())
    // the later non-empty batch landed normally, with its metrics
    assert(spark.read.parquet(s"$root/out").count() == 1L)
    assert(spark.read.parquet(s"$root/out_metrics")
      .select("n").as[Long].collect().toList == List(1L))
  }

  test("qualityGateSink: NULL-text docs land in the reject sink, never dropped (ADVICE r16)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val root = s"${Scratch.root(spark)}/qgate_null_${System.nanoTime()}"
    val in = MemoryStream[(Long, String)]
    val q = EventStream.qualityGateSink(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$root/accept", s"$root/reject")
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      in.addData((1L, "a perfectly ordinary document with some words in it"),
        (2L, null.asInstanceOf[String]))
      q.processAllAvailable()
    } finally q.stop()
    val accept = spark.read.parquet(s"$root/accept").select("doc_id").as[Long].collect().toSet
    val reject = spark.read.parquet(s"$root/reject").select("doc_id").as[Long].collect().toSet
    // every doc lands in exactly one sink; NULL text is a reject
    assert((accept ++ reject) == Set(1L, 2L) && accept.intersect(reject).isEmpty,
      s"accept=$accept reject=$reject")
    assert(reject.contains(2L), s"NULL-text doc must be rejected, not dropped: reject=$reject")
  }

  // A late row for every operator with a deadline: user 1 opens a
  // group at minute 0, user 2's row at minute 600 moves the watermark
  // (1 hour) past its deadline, and user 1's straggler at minute 1
  // comes in the next batch. With no-data batches off, Spark's late
  // filter still uses the previous batch's watermark, so the straggler
  // reaches the state function after the deadline has passed. The group
  // must close there with the straggler folded in, as the batch call
  // closes it.
  private val stragglerRun = Seq(Event(1, 1, ts(0), "a", 1.0), Event(2, 2, ts(600), "c", 1.0),
    Event(1, 3, ts(1), "a", 2.0), Event(2, 4, ts(1200), "c", 1.0),
    Event(2, 5, ts(1800), "c", 1.0))

  for ((op, build, group) <- Seq[(String, Dataset[Event] => DataFrame, String)](
      ("sessionize", ev => EventStream.sessionize(ev).toDF(), "user_id = 1"),
      ("patternSessions", ev => EventStream.patternSessions(ev, "a+").toDF(), "user_id = 1"),
      ("heavyHittersStream",
        ev => EventStream.heavyHittersStream(ev.toDF(), watermark = "1 hour").toDF(),
        "item = 'a'"),
      ("reconcileStream", ev => EventStream.reconcileStream(
          ev.select(col("user_id"), lit("L").as("kind"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"), col("ts")),
          "user_id", "kind", "cents", "ts", horizonUs = 30L * 60000000L,
          watermark = "1 hour").toDF(), "okey = 1"),
      ("concurrencyStream", ev => EventStream.concurrencyStream(ev.toDF(), "ts",
          lenUs = 30L * 60000000L, bucketUs = 3600000000L, watermark = "1 hour").toDF(),
        s"bucket = ${ts(0).getTime / 3600000L}")))
    test(s"$op closes a group whose deadline passes in its straggler's micro-batch") {
      import spark.implicits._
      implicit val sql = spark.sqlContext
      val want = build(stragglerRun.toDS()).filter(group)
        .collect().map(_.toString).sorted.toSeq
      val in = MemoryStream[Event]
      val q = toMemory(build(in.toDS()), s"straggler_$op", noDataBatches = false)
      try stragglerRun.foreach { e => in.addData(e); q.processAllAvailable() }
      finally q.stop()
      val got = spark.table(s"straggler_$op").filter(group)
        .collect().map(_.toString).sorted.toSeq
      assert(want.nonEmpty && got == want)
    }

  test("every keyed-state operator: a streaming run in event order equals its batch call") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val types = Seq("view", "click", "purchase", "error")
    // users 1-3, one event each every 6 minutes, stepping through
    // view, click, purchase, error; a user's value repeats every 24
    // minutes, with two spikes; a 45-minute pause splits every session
    val evs = (0 until 45).map { i =>
      Event(1L + i % 3, i + 1L, ts(2L * i + (if (i >= 24) 45L else 0L)),
        types(i / 3 % 4), 1.0 + i % 4 + (if (i % 17 == 16) 40.0 else 0.0))
    }
    // user 99's event moves every operator's watermark past every
    // other group's deadline; its own group stays open
    val closing = Event(99, 1000, ts(600), "close", 1.0)
    val cents = expr("CAST(round(value * 100) AS BIGINT)")
    val ops = Seq[(String, Dataset[Event] => DataFrame, String)](
      ("heavyHittersStream",
        ev => EventStream.heavyHittersStream(ev.toDF()).toDF(), "item <> 'close'"),
      ("heavyHittersWeightedStream",
        ev => EventStream.heavyHittersWeightedStream(ev.toDF()).toDF(), "item <> 'close'"),
      ("sessionize", ev => EventStream.sessionize(ev).toDF(), "user_id <> 99"),
      ("patternSessions", ev => EventStream.patternSessions(ev, "vc*p").toDF(),
        "user_id <> 99"),
      ("anomalyStream", ev => EventStream.anomalyStream(ev, minPrior = 3).toDF(),
        "user_id <> 99"),
      ("clampedBalanceStream", ev => EventStream.clampedBalanceStream(
          ev.select(col("user_id"), col("event_id"), col("ts"),
            (cents * expr("CASE WHEN event_type = 'purchase' THEN -3 ELSE 1 END"))
              .as("delta_cents")).as[graft.streaming.WalletDelta]).toDF(),
        "user_id <> 99"),
      ("rateCapStream", ev => EventStream.rateCapStream(ev, windowUs = 20L * 60000000L,
          maxPerWindow = 2).toDF(), "user_id <> 99"),
      ("funnelStream", ev => EventStream.funnelStream(ev, clickWithinUs = 10L * 60000000L,
          purchaseWithinUs = 30L * 60000000L).toDF(), "user_id <> 99"),
      ("asofEnrichStream", ev => EventStream.asofEnrichStream(ev).toDF(), "user_id <> 99"),
      ("dupPaymentStream", ev => EventStream.dupPaymentStream(
          ev.withColumn("cents", cents), "user_id", "event_id", "cents", "ts",
          windowUs = 30L * 60000000L).toDF(), "cust <> 99"),
      ("reconcileStream", ev => EventStream.reconcileStream(
          ev.select(expr("user_id * 1000 + event_id div 4").as("okey"),
            expr("CASE WHEN event_type = 'view' THEN 'H' ELSE 'L' END").as("kind"),
            cents.as("cents"), col("ts")),
          "okey", "kind", "cents", "ts", horizonUs = 30L * 60000000L).toDF(),
        "okey < 99000"),
      ("concurrencyStream", ev => EventStream.concurrencyStream(ev.toDF(), "ts",
          lenUs = 30L * 60000000L, bucketUs = 3600000000L).toDF(),
        s"bucket <> ${closing.ts.getTime / 3600000L}"))
    for ((op, build, keep) <- ops) {
      val want = build((evs :+ closing).toDS()).filter(keep)
        .collect().map(_.toString).sorted.toSeq
      val in = MemoryStream[Event]
      val q = toMemory(build(in.toDS()), s"twin_$op")
      try (evs.grouped(15).toSeq :+ Seq(closing)).foreach { b =>
        in.addData(b); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table(s"twin_$op").filter(keep)
      // funnelStream emits each user's current row once per micro-batch;
      // the stage only grows, so the last row is the highest stage
      val last =
        if (op != "funnelStream") streamed
        else streamed.withColumn("r", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("user_id")
              .orderBy(col("stage").desc))).filter("r = 1").drop("r")
      val got = last.collect().map(_.toString).sorted.toSeq
      assert(want.nonEmpty && got == want, s"$op: streamed $got, batch $want")
    }
  }

  test("only the keyed-state driver calls flatMapGroupsWithState or touches timeouts") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Paths.get("src/main/scala/graft/streaming")
    assert(Files.isDirectory(dir), s"sources not found under ${dir.toAbsolutePath}")
    val files = {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val calls = """\b(flatMapGroupsWithState|setTimeoutTimestamp|hasTimedOut|getCurrentWatermarkMs)\b""".r
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val member = """(?m)^  (?:private )?def (\w+)""".r
    val sites = files.flatMap { f =>
      val src = comments.replaceAllIn(
        new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8), "")
      calls.findAllMatchIn(src).map { m =>
        val enclosing = member.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
        s"${f.getFileName}:${enclosing.map(_.group(1)).getOrElse("?")}"
      }.toList
    }.distinct
    assert(sites == Seq("EventStream.scala:keyedState"), sites.mkString(", "))
  }
}
