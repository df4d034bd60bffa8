package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event for the streaming operators (mirrors the events table). */
case class Event(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double)

/** Per-bucket peak-concurrency row from [[EventStream.concurrencyStream]]
 * (D25): `peak` open intervals at any instant inside the bucket,
 * `n_pieces` bucket-clipped interval pieces that contributed. */
case class BucketPeak(bucket: Long, peak: Long, n_pieces: Long)

private case class ConcBuf(ts: Seq[Long], ds: Seq[Long], bucketEndUs: Long)

/** Per-order verdict from [[EventStream.reconcileStream]] (D26):
 * header total vs accumulated line values; `header_cents` is None
 * when no header arrived inside the horizon (absence is a finding),
 * `abs_diff` only when exactly one header did. */
case class ReconVerdict(okey: Long, n_headers: Long, header_cents: Option[Long],
    lines_cents: Long, n_lines: Long, abs_diff: Option[Long])

private case class ReconState(nHeaders: Long, headerCents: Long,
    lineCents: Long, nLines: Long, deadlineUs: Long)

/** A duplicate-payment pair from [[EventStream.dupPaymentStream]]
 * (D27): `key_dup` repeats `key_prior`'s (customer, cents) within the
 * window; `day_gap` in whole days. */
case class DupAlarm(cust: Long, cents: Long, key_prior: Long,
    key_dup: Long, day_gap: Long)

private case class LastPayment(okey: Long, tsUs: Long)

/** A closed gap-session emitted by the stateful sessionizer. */
case class Session(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

private case class OpenSession(startMs: Long, lastMs: Long, n: Long, sum: Double)

/** A purchase stamped with the user's latest prior view (D24). */
case class AsofEnriched(user_id: Long, event_id: Long, ts_us: Long,
    view_ts_us: Option[Long], view_cents: Option[Long])

private case class AsofViewState(viewTs: Long, viewCents: Long)

/** A per-window heavy-hitter summary row (Misra-Gries lower-bound
 * count; exact when the window's distinct items fit the capacity). */
case class HeavyHitter(window_start_us: Long, item: String,
    mg_count: Long, n_window: Long)

private case class MgSummary(counters: Map[String, Long], n: Long, wendUs: Long)

/** Per-event anomaly verdict against the key's own running history. */
case class AnomalyVerdict(user_id: Long, event_id: Long, cents: Long,
    n_prior: Long, is_anomaly: Boolean)

private case class RunningStats(n: Long, sum: Long, sumSq: Long)

/** A closed session's symbol sequence + pattern verdict (D21). */
case class PatternSession(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, seq: String, truncated: Boolean,
    matched: Boolean, n_matches: Long)

private case class OpenPattern(startMs: Long, lastMs: Long, seq: String,
    truncated: Boolean)

/** One wallet movement for [[EventStream.clampedBalanceStream]]. */
case class WalletDelta(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, delta_cents: Long)

/** Post-movement wallet state (clamped at zero; `rejected_cents` is
 * the cumulative amount the clamp absorbed). */
case class WalletMove(user_id: Long, event_id: Long, balance_cents: Long,
    rejected_cents: Long)

private case class WalletState(balance: Long, rejected: Long)

/** Keyed row for [[EventStream.rateCapStream]] (window pre-computed
 * so the state function never touches timestamp arithmetic). */
case class CapInput(user_id: Long, event_id: Long, ts_us: Long,
    win_start_us: Long)

/** Per-event admission verdict from the per-key-per-window rate cap. */
case class CapVerdict(user_id: Long, event_id: Long, win_start_us: Long,
    seq_in_window: Long, admitted: Boolean)

private case class CapState(count: Long)

/** Per-user funnel progress emitted by [[EventStream.funnelStream]]:
 * stage 0 = viewed, 1 = clicked in window, 2 = purchased in window;
 * unreached stage timestamps are None. */
case class FunnelUser(user_id: Long, stage: Long, vt_us: Option[Long],
    ct_us: Option[Long], pt_us: Option[Long])

private case class FunnelState(vt: Long, ct: Long, pt: Long)

/**
 * Structured Streaming operators over the event stream. The same
 * transformations run on a batch DataFrame (Spark's unified API), so
 * correctness is oracle-checked in batch (SparkEntry.q_sessionize /
 * q_hourly_events) while StreamingSpec drives them incrementally
 * through MemoryStream to verify watermark/state behavior.
 *
 * Scale: windowed aggregation state is bounded by the watermark
 * (late data beyond it is dropped, state evicted); sessionization
 * state is one OpenSession per active user, evicted by event-time
 * timeout.
 */
object EventStream {

  /** Tumbling-window counts with a watermark; append-mode emits each
   * window once it can no longer receive late data. */
  def windowedAgg(events: DataFrame, windowLen: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // cents-space sum: exact regardless of per-trigger partial order
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("value") * 100, 0).cast("long")) / 100.0, 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap sessionization as ONE declarative aggregate: `session_window`
   * merges events whose times fall within `gap` of the session's last
   * event (an event at exactly last+gap starts a NEW session — window
   * end is exclusive). The same plan runs batch and streaming: under
   * streaming, Spark keeps per-session state and the watermark evicts
   * closed sessions, so this is the built-in counterpart of the
   * custom flatMapGroupsWithState sessionizer ([[sessionize]]) when
   * per-event custom state isn't needed. Emits
   * (user_id, session_start_us, session_end_us, n_events). */
  def sessionWindowAgg(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts",
      gap: String = "30 minutes", watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark) // no-op in batch
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"))

  /** Windowed approximate distinct under streaming: HLL±± sketch
   * state per (window, event_type) maintained incrementally across
   * micro-batches — the streaming form of the batch B7/B47 sketch
   * queries. Exact per-window COUNT(DISTINCT) is unsupported in
   * streaming (unbounded per-window state); the sketch is the scale
   * path on a cluster too, its state O(2^lgK) per window regardless
   * of cardinality. Watermark evicts finalized windows. `rsd` is the
   * sketch's relative standard deviation — the state-size/accuracy
   * dial (0.05 default ≈ 2^14 registers; 0.01 ≈ 2^19, still KBs per
   * window and near-exact below ~10^4 cardinality via the sparse
   * representation). */
  def approxDistinctStream(events: DataFrame, windowLen: String = "5 minutes",
      watermark: String = "10 minutes", rsd: Double = 0.05): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("approx_users"))

  /** D10: streaming windowed distribution sketch — per-window integer
   * HISTOGRAM maintenance (bucket = value-cents div `bucketCents`).
   * Exact per-window quantiles are unbounded-state under streaming
   * (the same wall as D8's COUNT DISTINCT / D9's top-k); a
   * fixed-width histogram is the mergeable summary: state per open
   * window is at most (value-range / bucketCents) counters, counts
   * are additive across micro-batches (a plain windowed SUM — no
   * custom state), and any quantile resolves from the finalized
   * histogram to bucket precision. All integers end to end, so the
   * batch twin carries a full DuckDB replay oracle — no float
   * quantile estimator to diverge. */
  def histogramStream(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "10 minutes", bucketCents: Long = 100L): DataFrame =
    events
      .withColumn("bucket",
        expr(s"cast(round(value * 100, 0) as bigint) div ${bucketCents}L"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("bucket"), col("cnt"))

  /** Finalize: quantiles at `quantilesPpm` (e.g. 500000 = p50) from a
   * histogram emitted by [[histogramStream]] — smallest bucket whose
   * cumulative count reaches ⌈total·q⌉, reported as the bucket's
   * EXCLUSIVE upper value edge in cents ("q-quantile ≤ this"). Runs
   * over finalized (window, bucket, cnt) rows — post-sink in a
   * streaming deployment, same-plan in batch — and shuffles only
   * histogram rows, never events. */
  def histogramQuantiles(hist: DataFrame, quantilesPpm: Seq[Long],
      bucketCents: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byWin = Window.partitionBy("window_start_us")
    import hist.sparkSession.implicits._
    val cum = hist
      .withColumn("cum", sum("cnt").over(byWin.orderBy("bucket")))
      .withColumn("total", sum("cnt").over(byWin))
    // one scan of the histogram: broadcast the (tiny) quantile list,
    // keep buckets at-or-past each target, take the smallest
    cum.crossJoin(broadcast(quantilesPpm.toDF("q_ppm")))
      .filter(col("cum") * 1000000L >= col("total") * col("q_ppm"))
      .groupBy("window_start_us", "q_ppm")
      .agg(min("bucket").as("qbucket"))
      .select(col("window_start_us"), col("q_ppm"),
        ((col("qbucket") + 1L) * bucketCents).as("value_cents_ub"))
  }

  /** D16: streaming distribution-drift monitor — the ML-ops "did this
   * hour's data shift?" gate (B61's batch audit made continuous):
   * per-window value histograms from [[histogramStream]] are finalized
   * against a pinned REFERENCE histogram, emitting per window the L1
   * share drift, the max per-bucket drift, and WHICH bucket drives it.
   * All integer ppm arithmetic (shares via truncating div) — no PSI
   * logarithms, no floats — so a drift alert is replayable evidence,
   * not an estimate.
   *
   * Scale: the reference is a bounded (bucket, count) relation that
   * BROADCASTS (never re-shuffled per window); drift runs over
   * histogram rows only — windows × buckets, never events — and the
   * streaming state cost is histogramStream's bounded counters. The
   * worst bucket ties break to the SMALLEST bucket (pure function of
   * the data, the B85 rule). */
  def histogramDrift(hist: DataFrame, ref: DataFrame): DataFrame = {
    // fresh attribute ids per use: a histogram read back from a sink
    // (memory/parquet view) carries the same ids into both sides of
    // the total-vs-rows self-join, which the analyzer rejects as
    // conflicting references (MemoryPlan INTERNAL_ERROR)
    def fresh(df: DataFrame) =
      df.select(df.columns.map(c => col(c).as(c)): _*)
    val refTot = ref.agg(sum("ref_cnt").as("ref_total"))
    val refShares = ref.crossJoin(broadcast(refTot))
      .select(col("bucket"),
        expr("ref_cnt * 1000000 div nullif(ref_total, 0)").as("ref_share_ppm"))
    val wTot = fresh(hist).groupBy("window_start_us")
      .agg(sum("cnt").as("n_events"))
    val shares = fresh(hist).join(wTot, "window_start_us")
      .select(col("window_start_us"), col("bucket"),
        expr("cnt * 1000000 div n_events").as("share_ppm"))
    // every window × every reference bucket, so a bucket the window
    // LOST entirely still contributes its full reference share
    val refGrid = wTot.select(col("window_start_us"))
      .crossJoin(broadcast(refShares))
    shares.join(refGrid, Seq("window_start_us", "bucket"), "full")
      .select(col("window_start_us"), col("bucket"),
        abs(coalesce(col("share_ppm"), lit(0L)) -
          coalesce(col("ref_share_ppm"), lit(0L))).as("drift"))
      .groupBy("window_start_us")
      .agg(sum("drift").as("l1_ppm"),
        max(struct(col("drift"), (-col("bucket")).as("nb"))).as("worst"))
      .join(wTot, "window_start_us")
      .select(col("window_start_us"), col("n_events"), col("l1_ppm"),
        col("worst.drift").as("max_ppm"), (-col("worst.nb")).as("worst_bucket"))
  }

  /** Streaming heavy hitters: per-window Misra-Gries frequency
   * summaries in BOUNDED state — `capacity` counters per open window
   * regardless of stream length or item cardinality (exact per-window
   * top-k needs unbounded state, the same wall that makes D8 use a
   * sketch for COUNT DISTINCT). The Misra-Gries guarantees: every
   * item with true count > n/(capacity+1) is present in the summary,
   * and each reported count is a lower bound within n/(capacity+1) of
   * the truth. When a window's distinct-item count never exceeds the
   * capacity, no decrement ever fires and the summary is EXACT —
   * which is what lets the batch twin (`q_stream_topk`) carry a full
   * SQL count oracle, with the over-capacity regime covered by
   * StreamingSpec's guarantee assertions.
   *
   * Streaming: state is keyed by window start and emitted once the
   * watermark passes the window end (event-time timeout), append
   * mode. Batch: the same operator sees each window exactly once and
   * emits its summary directly. Scale note: one window = one state
   * group; [[heavyHittersWeightedStream]] is the throughput lever
   * when a single window's arrival rate outgrows one task. */
  def heavyHittersStream(events: DataFrame, keyCol: String = "event_type",
      tsCol: String = "ts", windowLen: String = "1 hour",
      capacity: Int = 8, watermark: String = "10 minutes"): Dataset[HeavyHitter] = {
    require(capacity > 0, "capacity must be positive")
    import events.sparkSession.implicits._
    // the raw watermarked ts attribute must survive into the stateful
    // operator's input — event-time timeout is rejected otherwise
    // (unix_micros projections strip the watermark metadata). weight
    // stays a DECLARATIVE lit(1) column for the same reason: a typed
    // .map would strip the metadata too.
    val rows = events
      .withWatermark(tsCol, watermark) // no-op in batch
      .select(window(col(tsCol), windowLen).as("w"),
        col(keyCol).cast("string").as("item"), col(tsCol).as("ts"))
      .select(unix_micros(col("w.start")).as("wstart"),
        unix_micros(col("w.end")).as("wend"), col("item"),
        lit(1L).as("weight"), col("ts"))
      .as[(Long, Long, String, Long, java.sql.Timestamp)]
    heavyHittersCore(rows, events.isStreaming, capacity)
  }

  /**
   * [[heavyHittersStream]] with a stateless per-trigger pre-reduction:
   * each input partition first collapses its rows to (window, item) →
   * weight pairs (a map-side combine, bounded-memory via chunking),
   * so the stateful shuffle into the one-task-per-window state group
   * carries at most partitions x distinct-items rows per trigger
   * instead of every event — the throughput lever for a hot window at
   * 100 TB/day arrival rates. The combine strips watermark metadata,
   * so the reduced rows re-anchor the watermark on their per-chunk MAX
   * event time: the per-trigger maximum is preserved, so the global
   * watermark advances exactly as in the raw path. Weighted MG
   * ([[mgAddWeighted]]) keeps the summary guarantee, and below
   * capacity the result is bit-identical to the unweighted path
   * (StreamingSpec asserts both).
   *
   * LATE-DATA GRANULARITY (documented semantic, pinned by
   * StreamingSpec): the raw path drops each late event individually —
   * Spark's pre-stateful watermark filter sees every event's own
   * timestamp. Here the filter sees the merged pair's MAX timestamp,
   * so a late event that shares a (window, item) pair with an on-time
   * event in the same partition chunk rides in with it; only pairs
   * whose every constituent event is late are dropped. The leak is
   * bounded: it can only occur within a single trigger (chunks never
   * span triggers), only for weight below the watermark whose window
   * is still open, and it only moves counts TOWARD the exact
   * (drop-nothing) answer — the MG guarantee is unaffected, and the
   * divergence from [[heavyHittersStream]] exists only under late
   * arrivals. Callers needing per-event drop parity under heavy late
   * traffic should use the raw path (or shrink the watermark delay).
   */
  def heavyHittersWeightedStream(events: DataFrame, keyCol: String = "event_type",
      tsCol: String = "ts", windowLen: String = "1 hour",
      capacity: Int = 8, watermark: String = "10 minutes",
      combineChunk: Int = 1 << 18): Dataset[HeavyHitter] = {
    require(capacity > 0, "capacity must be positive")
    require(combineChunk > 0, "combineChunk must be positive")
    import events.sparkSession.implicits._
    // NO watermark before the combine — window assignment is a pure
    // projection, and streaming rejects redefining a watermark
    // downstream; the single watermark goes on the reduced rows below
    val raw = events
      .select(window(col(tsCol), windowLen).as("w"),
        col(keyCol).cast("string").as("item"), col(tsCol).as("ts"))
      .select(unix_micros(col("w.start")).as("wstart"),
        unix_micros(col("w.end")).as("wend"), col("item"), col("ts"))
      .as[(Long, Long, String, java.sql.Timestamp)]
    // chunked combine: the buffer never exceeds combineChunk entries,
    // so per-partition memory stays bounded on adversarial cardinality;
    // duplicate (window, item) pairs across chunks simply merge in the
    // stateful operator downstream
    val reduced = raw.mapPartitions { it =>
      it.grouped(combineChunk).flatMap { chunk =>
        val acc = scala.collection.mutable.LinkedHashMap
          .empty[(Long, Long, String), (Long, java.sql.Timestamp)]
        chunk.foreach { case (ws, we, item, ts) =>
          acc.updateWith((ws, we, item)) {
            case Some((n, mx)) => Some((n + 1L, if (ts.after(mx)) ts else mx))
            case None          => Some((1L, ts))
          }
        }
        acc.iterator.map { case ((ws, we, item), (n, mx)) => (ws, we, item, n, mx) }
      }
    }
    val rows = reduced.toDF("wstart", "wend", "item", "weight", "ts")
      // the one watermark of the query, anchored on the combine's max
      // event time per pair — the per-trigger max is preserved, so it
      // advances exactly as the raw path's would (no-op in batch)
      .withWatermark("ts", watermark)
      .as[(Long, Long, String, Long, java.sql.Timestamp)]
    heavyHittersCore(rows, events.isStreaming, capacity)
  }

  /** Weighted Misra-Gries add — the (item, weight) generalization
   * shared by the raw (weight 1) and pre-reduced paths. On a full
   * summary one uniform-decrement round absorbs d = min(w, smallest
   * counter): at least capacity+1 logical items lose d mass, so total
   * undercount stays ≤ totalWeight/(capacity+1), every item with true
   * weight above that bound is present, and reported counts are lower
   * bounds within it. Below capacity no decrement ever fires and the
   * summary is EXACT — identical for both paths. */
  private def mgAddWeighted(m: Map[String, Long], item: String, w: Long,
      capacity: Int): Map[String, Long] =
    if (w <= 0L) m
    else if (m.contains(item)) m.updated(item, m(item) + w)
    else if (m.size < capacity) m.updated(item, w)
    else {
      val d = math.min(w, m.valuesIterator.min)
      val dec = m.flatMap { case (k, v) => if (v > d) Some(k -> (v - d)) else None }
      // w > d means d equalled the smallest counter, which the
      // decrement just removed — a slot is free by construction
      if (w > d) dec.updated(item, w - d) else dec
    }

  private def heavyHittersCore(
      rows: Dataset[(Long, Long, String, Long, java.sql.Timestamp)],
      streaming: Boolean, capacity: Int): Dataset[HeavyHitter] = {
    import rows.sparkSession.implicits._
    def fn(wstart: Long, batch: Iterator[(Long, Long, String, Long, java.sql.Timestamp)],
        state: GroupState[MgSummary]): Iterator[HeavyHitter] = {
      def emit(s: MgSummary): Iterator[HeavyHitter] =
        s.counters.toSeq.sortBy { case (k, v) => (-v, k) }
          .map { case (k, v) => HeavyHitter(wstart, k, v, s.n) }.iterator
      if (state.hasTimedOut) {
        val out = state.getOption.map(emit).getOrElse(Iterator.empty)
        state.remove()
        out
      } else {
        var s = state.getOption.getOrElse(MgSummary(Map.empty, 0L, 0L))
        batch.foreach { case (_, wend, item, w, _) =>
          s = MgSummary(mgAddWeighted(s.counters, item, w, capacity), s.n + w, wend)
        }
        if (streaming) {
          // flatMapGroupsWithState does NOT drop late data for us: a
          // straggler for an already-finalized window would register a
          // timeout in the past, which THROWS and kills the query. If
          // the watermark has passed this window's end, its state was
          // already emitted and removed by the timeout in an earlier
          // micro-batch (timeouts fire before the watermark advances
          // past them), so the only correct move is to drop the rows.
          if (s.wendUs / 1000L <= state.getCurrentWatermarkMs()) Iterator.empty
          else {
            state.update(s)
            // finalize when the watermark passes the window end
            state.setTimeoutTimestamp(s.wendUs / 1000L)
            Iterator.empty
          }
        } else emit(s)
      }
    }

    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Incremental keyed upsert sink: each micro-batch MERGEs into a
   * parquet table via [[graft.sinks.TableSink.upsert]] — the
   * streaming companion of the batch truncate-and-load, for
   * maintaining a continuously-updated serving table from an
   * update-mode aggregation (update mode emits exactly the changed
   * keys per trigger, which IS the upsert delta). Start with
   * `.start()` on the returned writer.
   *
   * Cost model: while the anti join itself broadcasts a small delta
   * (never shuffling the big table), plain-parquet MERGE still
   * re-reads and fully REWRITES the serving table every trigger —
   * O(table) I/O per micro-batch. That's the floor for a format
   * without file-level deletes; size triggers accordingly (minutes,
   * not seconds) and keep the serving table compact, or point the
   * sink at a table format with transactional row-level merge.
   * `checkUniqueKeys` defaults to false because update-mode
   * aggregation output is unique per key per trigger by construction,
   * making the per-batch duplicate-scan job pure overhead — but a
   * caller WITHOUT that guarantee (e.g. flatMapGroupsWithState
   * emitting several rows per key per batch) must pass true, or
   * duplicate-key rows insert into the serving table permanently. */
  /** One epoch of [[appendSink]]: write a batch into its OWN
   * batch-id-keyed directory, overwriting any previous attempt of the
   * SAME epoch. Exposed so a crash replay is directly testable: the
   * call is idempotent per (path, batchId) by construction. */
  def appendEpoch(batch: DataFrame, path: String, batchId: Long): Unit =
    batch.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/batch=$batchId")

  /** D17: exactly-once streaming APPEND into a parquet fact table —
   * the unkeyed complement of [[upsertSink]]/[[cdcSink]]: raw fact
   * ingestion (events, logs, lineitems) has no merge key, and a plain
   * `.format("parquet")` append relies on the sink's own commit log
   * for exactly-once — lose or relocate that log and a replayed
   * micro-batch DUPLICATES rows silently. Here each epoch owns a
   * batch-id directory ([[appendEpoch]]): a crash-replayed epoch
   * OVERWRITES its own directory instead of appending twice, so the
   * table equals the exact union of epochs under any number of
   * replays — idempotence by layout, no log to lose. Readers scan
   * `path` as one table (batch=N is a partition column; prune on it
   * for incremental consumers). Per-epoch cost tracks the batch,
   * never the table; compact small epoch dirs downstream (A10's
   * compactPartitioned is the matching maintenance pass). */
  def appendSink(rows: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendEpoch(batch.toDF(), path, id)
      }

  def upsertSink(updates: DataFrame, path: String, keyCols: Seq[String],
      checkUniqueKeys: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sinks.TableSink.upsert(batch.sparkSession, path, batch.toDF(), keyCols,
          checkUniqueKeys = checkUniqueKeys)
      }

  /** Streaming changelog apply (D13): each micro-batch of U/D change
   * rows MERGEs into a parquet serving table via
   * [[graft.sinks.TableSink.applyCdc]] — the delete-carrying
   * generalization of [[upsertSink]], i.e. a Debezium/binlog feed
   * continuously applied to a queryable table. Semantics are
   * applyCdc's: additive schema evolution, delete-of-absent-key
   * no-op, idempotent replay (a crash-replayed batch overwrites the
   * same keys and re-deletes the same rows — exactly-once table
   * state without a transaction log). `checkUniqueKeys` defaults to
   * TRUE here, the opposite of upsertSink: a CDC stream is raw
   * producer output, not update-mode aggregation, so per-key
   * uniqueness within a batch is NOT structural — disable only with
   * the D-wins intra-batch resolution in mind (TableSink doc).
   * upsertSink's cost model applies unchanged: plain-parquet MERGE
   * rewrites the serving table per trigger — size triggers in
   * minutes, or point the sink at a transactional table format. */
  def cdcSink(changes: DataFrame, path: String, keyCols: Seq[String],
      opCol: String = "_op", checkUniqueKeys: Boolean = true)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sinks.TableSink.applyCdc(batch.sparkSession, path, batch.toDF(),
          keyCols, opCol, checkUniqueKeys = checkUniqueKeys)
      }

  /** Streaming version-guarded upsert (D14): each micro-batch MERGEs
   * via [[graft.sinks.TableSink.upsertVersioned]] — last-writer-wins
   * by a monotone version column, so a feed whose batches arrive OUT
   * OF ORDER (late backfills, replayed partitions, multi-producer
   * races) still converges to the same serving table in any delivery
   * order, any number of replays. This is the property [[cdcSink]]
   * cannot give (applyCdc trusts batch order); the price is no
   * deletes (LWW registers don't express tombstone-free deletion —
   * carry an is_deleted payload column if needed). Cost model is
   * upsertSink's: plain-parquet MERGE rewrites the table per trigger. */
  def versionedUpsertSink(updates: DataFrame, path: String,
      keyCols: Seq[String], versionCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sinks.TableSink.upsertVersioned(batch.sparkSession, path,
          batch.toDF(), keyCols, versionCol)
      }

  /** Streaming governed-snapshot publish (D28): each micro-batch
   * upserts (last-writer-wins by key within the batch-then-serving
   * order) into the CURRENT served table and publishes the result as
   * a NEW immutable version of the A19 snapshot namespace, advancing
   * the `prod` tag — the streaming write path into the governed read
   * surface: `readTag(prod)` always serves ONE complete consistent
   * version (never a half-applied batch), every prior micro-batch
   * state stays time-travelable, and the A27 schema gate refuses a
   * batch whose schema would break readers (fail-loud inside the
   * stream — a poisoned stream stops instead of corrupting prod).
   *
   * Delivery contract, stated precisely: version CREATION is
   * at-least-once (a batch replayed after a crash-before-checkpoint
   * publishes a duplicate version — append-only namespaces cannot
   * overwrite), but CONTENT is exactly-once: the replayed upsert is
   * idempotent (same keys, same values), so the duplicate version is
   * byte-equal in content and the tag keeps serving the correct
   * table. A31's catalog makes the duplicate visible and A23's vacuum
   * reclaims it. Per batch: one read of the served table + one
   * keyed upsert + one gated publish — cost tracks batch + serving
   * table, never history.
   *
   * Namespace citizenship (ADVICE r15): the publish is LINKED — every
   * OTHER table the current version serves is carried forward by
   * `_LINKS` reference ([[graft.sinks.Snapshot.publishLinked]]), so a
   * streaming table sharing a namespace with batch-published tables
   * advances `prod` without shrinking the governed read surface (a
   * plain publish would create versions missing them, and `readTag`
   * for those tables would throw). A table absent at the current
   * version is BRAND-NEW: the merge read is skipped and the batch
   * bootstraps it — which also lets a stream start writing into a
   * namespace whose history predates it. The A27 schema gate runs as
   * the explicit [[graft.sinks.Snapshot.schemaViolations]] scan
   * before the linked publish (the same `--link` discipline the A27
   * CLI gate follows). */
  def snapshotPublishSink(updates: DataFrame, root: String, table: String,
      keyCols: Seq[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        val cur = graft.sinks.Snapshot.currentVersion(s, root)
        val merged = lwwMergedBatch(batch.toDF(), root, table, keyCols,
          if (cur > 0L) Some(cur) else None)
        val viol = graft.sinks.Snapshot.schemaViolations(s, root, Map(table -> merged))
        require(viol.isEmpty,
          s"snapshot publish sink: schema gate refused: ${viol.mkString("; ")}")
        val (v, _) = graft.sinks.Snapshot.publishLinked(s, root, Map(table -> merged))
        graft.sinks.Snapshot.tag(s, root, "prod", v)
      }

  /** Shared D28/D29 micro-batch core: refuse NULL-keyed and
   * duplicate-keyed batches, then last-writer-wins-merge the batch
   * over the table as served at `baseVersion` (None = the table is
   * brand-new or the namespace is empty — the batch bootstraps it).
   *
   * A NULL-keyed row has no upsert identity (the left_anti LWW merge
   * never matches NULL = NULL) and countDistinct silently skips it,
   * so it is refused BY NAME, not miscounted as a duplicate (ADVICE
   * r15); a batch with duplicate keys has no deterministic winner (a
   * DataFrame carries no row order) — refuse rather than publish an
   * arbitrary one; upstream dedups with an explicit version column
   * (D14 versionedUpsertSink). */
  private def lwwMergedBatch(batch: DataFrame, root: String, table: String,
      keyCols: Seq[String], baseVersion: Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, when}
    val s = batch.sparkSession
    val anyNullKey = keyCols.map(col(_).isNull).reduce(_ || _)
    val kc = batch.agg(
      count(lit(1)),
      countDistinct(col(keyCols.head), keyCols.tail.map(col): _*),
      count(when(anyNullKey, lit(1)))).head()
    require(kc.getLong(2) == 0L,
      s"snapshot publish sink: batch has ${kc.getLong(2)} NULL-keyed rows — " +
        s"every key column (${keyCols.mkString(", ")}) must be non-null")
    require(kc.getLong(0) == kc.getLong(1),
      s"snapshot publish sink: batch has ${kc.getLong(0) - kc.getLong(1)} duplicate keys")
    val served = baseVersion
      .filter(v => graft.sinks.Snapshot.tables(s, root, v).contains(table))
      .map(v => graft.sinks.Snapshot.read(s, root, table, Some(v)))
    served match {
      case None => batch // brand-new table: bootstrap
      case Some(cur) =>
        // batch rows win over served rows on their keys (LWW)
        cur.join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
          .unionByName(batch)
    }
  }

  /** Streaming publish onto a BRANCH ref (D29) — D28's governed
   * publish pointed at an A35 branch instead of `prod`: each
   * micro-batch LWW-merges into the table as served at the REF'S OWN
   * head and publishes through [[graft.sinks.Snapshot.publishToRef]],
   * which gates the schema against the branch head, carries the
   * branch's other tables by `_LINKS` reference, and advances only
   * the branch tag — `prod` and its readers never observe the stream
   * until the branch is promoted (A35 retag) or three-way-merged back
   * (A36 mergeRef). This is how a streaming pipeline is STAGED
   * against a governed warehouse: run the new feed into a branch for
   * a burn-in window, validate, then merge — a capability plain
   * "write to a staging table" cannot give, because the branch serves
   * the feed JOINED with every other table of its consistent base
   * version. Same delivery contract as D28 (at-least-once version
   * creation, exactly-once content via idempotent replay); the merge
   * read is pinned to the ref head, so a crash-replayed batch
   * re-merges against its original base state only if the ref has not
   * advanced past it — with the single-writer-per-ref deployment
   * (the A19 contract, per ref), it has not. */
  def snapshotBranchSink(updates: DataFrame, root: String, table: String,
      keyCols: Seq[String], ref: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        val refV = graft.sinks.Snapshot.tagVersion(s, root, ref) // loud on unknown ref
        val merged = lwwMergedBatch(batch.toDF(), root, table, keyCols, Some(refV))
        // publishToRef re-resolves the ref and runs the A27 gate
        // against it; single writer per ref, so refV is still the head
        graft.sinks.Snapshot.publishToRef(s, root, ref, Map(table -> merged)): Unit
      }

  /** Streaming quality-gated corpus ingest (D30): each micro-batch of
   * documents is scored INLINE by the two codegen'd quality kernels —
   * the C90 hashing-trick classifier and the C89 Gopher top-2-gram
   * repetition signal — and split into accept/reject sinks: the live
   * form of the batch quality-filter chain, proving the kernels ride
   * Structured Streaming unchanged (one pass per row, no state, no
   * shuffle — the gate is embarrassingly parallel, so stream
   * throughput tracks the batch path's). Each batch writes its own
   * `batch=<id>` subdirectory with overwrite, so a replayed batch
   * lands on the same directory instead of duplicating — the
   * vectorSearchSink exactly-once contract for append-shaped sinks.
   * Rejected docs are data too (audit, threshold tuning): they land
   * in the reject sink with the same score columns, never dropped —
   * including NULL-text docs: the kernels are null-propagating, so
   * without the null-safe coalesce on `accepted` a NULL-text doc
   * scored NULL and landed in NEITHER sink, contradicting this
   * contract silently (ADVICE r16; latent until a user streams a
   * corpus with missing text). NULL text is a reject, its scores
   * stay NULL for the audit trail. */
  def qualityGateSink(docs: DataFrame, idCol: String, textCol: String,
      acceptPath: String, rejectPath: String,
      buckets: Long = 65536L, seed: Long = 1L,
      top2PpmMax: Long = 200000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        import org.apache.spark.sql.functions.col
        val scored = batch.toDF()
          .withColumn("score", graft.functions.expressions
            .hashedLinearScore(col(textCol), buckets, seed))
          .withColumn("top2_ppm", graft.functions.expressions
            .gopherTopPpm(col(textCol), 2, 2).getItem(0))
          .withColumn("accepted", org.apache.spark.sql.functions.coalesce(
            col("score") >= 0L && col("top2_ppm") <= top2PpmMax,
            org.apache.spark.sql.functions.lit(false)))
        scored.filter(col("accepted"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$acceptPath/batch=$id")
        scored.filter(!col("accepted"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$rejectPath/batch=$id")
      }

  /** Streaming multimodal ingest router (D32, r17) — C12d's
   * container-header metadata LIVE: each micro-batch of binary
   * payloads is enriched with format/width/height/sample-rate/channel
   * columns by the codegen'd header kernel
   * ([[graft.multimodal.Media.withHeaderMeta]] — one pass, no state,
   * no shuffle beyond the partitioned write) and ROUTED by container
   * format into per-format sink partitions in ONE partitionBy write —
   * the ingest front door of a media corpus: images go to the image
   * pipeline, audio to audio, garbage to the quarantine partition
   * ('unknown') instead of poisoning a decoder downstream, all
   * decided from header bytes before any codec spends a cycle. Each
   * batch writes its own `batch=<id>` dir with overwrite (the
   * vectorSearchSink exactly-once contract); read the router output
   * with `spark.read.parquet(basePath)` — `batch` and `format`
   * surface as partition columns, and per-format consumers prune to
   * `format=<x>` directories without touching the rest.
   *
   * Observability (r18, VERDICT r17 #4): each batch also emits its
   * per-format route counts — (format, n) rows under
   * `<basePath>_metrics/batch=<id>` (a SIBLING store, so the data
   * read's partition discovery never sees it; same batch-dir
   * overwrite discipline, so metrics replay exactly-once with the
   * data). The counts are taken by reading BACK the batch dir just
   * written — they report what landed on disk, not what was
   * intended — so a format-drift incident (an encoder change
   * flooding 'unknown') shows in the quarantine count the moment the
   * batch commits, instead of when a downstream consumer starves. */
  def mediaRouteSink(media: DataFrame, payloadCol: String, basePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    media.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // An EMPTY micro-batch writes neither dir (ADVICE r18): the
        // data write of an empty frame leaves a parquet-less batch dir
        // whose read-back cannot infer a schema and would kill the
        // query — and "no batch dir" is the honest record of "nothing
        // landed", for data and metrics alike.
        if (!batch.isEmpty) {
          graft.multimodal.Media.withHeaderMeta(batch.toDF(), payloadCol)
            .write.partitionBy("format")
            .mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$basePath/batch=$id")
          batch.sparkSession.read.parquet(s"$basePath/batch=$id")
            .groupBy("format")
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"${basePath}_metrics/batch=$id")
        }
      }

  /** Streaming near-duplicate gate (D31) — C37's incremental
   * cross-batch MinHash dedup made LIVE: each micro-batch dedups
   * within itself AND against the text-free shingle STATE of
   * everything previously streamed ([[graft.dedup.Dedup
   * .minhashKeepIncremental]] — banded LSH candidates, ids-only
   * shuffles, exact-Jaccard verify), then appends its own state for
   * the next batch. By the documented increment≡full-run contract,
   * the verdicts accumulated across batches equal what one full-batch
   * keep-first run over the whole stream would assign — the oracle
   * replays exactly that in string space (the C2 keep-table SQL).
   *
   * Three sinks. Verdict/accept write per batch into a `batch=<id>`
   * subdir with overwrite (the vectorSearchSink exactly-once
   * contract): `verdictPath` (the keep-table rows for every doc),
   * `acceptPath` (surviving docs with their payload). `statePath`
   * (the batch's text-free shingle state) uses its own layout —
   * `b<id>` dirs with the batch id as a DATA column — plus periodic
   * COMPACTION (VERDICT r16 #2): state ROWS are the contract, but
   * one-dir-per-batch made state FILES grow with batch count, so a
   * long-running stream paid listing/footer-open cost linear in its
   * age even when the data was small. Every `compactEvery` batches
   * the prior dirs fold into one `compact_<B>` dir (B = the highest
   * batch folded, always the PREVIOUS batch — the current batch's own
   * state never folds, see replay below). The fold is crash-safe at
   * every point: rows write to a dot-hidden tmp (invisible to
   * readers), ONE atomic rename makes `compact_<B>` visible, and the
   * subsumed dirs (`b<k≤B>`, older compacts) are deleted last — a
   * crash before the rename leaves ignorable tmp residue, a crash
   * after it leaves subsumed dirs the READER RULE already ignores
   * (newest compact wins; only `b<k>` ABOVE it are read) and the next
   * compaction cleans. An existing `compact_<B>` target means a
   * replayed batch already folded — complete by rename atomicity, so
   * the fold is skipped, not redone.
   *
   * Replay: the state read takes the newest `compact_<B>` with
   * B < id plus every `b<k>` with B < k < id — the current batch id
   * is always excluded and compaction never folds it, so a
   * crash-replayed batch re-decides against exactly its original
   * prior state — byte-identical outputs on replay. Retiring old
   * docs in favor of smaller-id newcomers remains a rebuild by
   * construction (the C37 contract). */
  def nearDupGateSink(docs: DataFrame, idCol: String, textCol: String,
      acceptPath: String, statePath: String, verdictPath: String,
      threshold: Double = 0.8, compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(compactEvery >= 2, s"near-dup gate: compactEvery must be >= 2, got $compactEvery")
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        import org.apache.spark.sql.functions.{col, lit}
        val s = batch.sparkSession
        import s.implicits._
        val sp = new org.apache.hadoop.fs.Path(statePath)
        val f = sp.getFileSystem(s.sparkContext.hadoopConfiguration)
        // the reader rule: newest compact below this batch, plus the
        // per-batch dirs above it (and below this batch)
        val names =
          if (f.exists(sp)) f.listStatus(sp).map(_.getPath.getName).toSeq
          else Seq.empty[String]
        // a pre-compaction release wrote `batch=<id>` state dirs; the
        // b<id>/compact_<B> reader would silently see EMPTY state over
        // them and wave every cross-batch duplicate through — refuse
        // loudly instead (the silent-wrongness class)
        require(!names.exists(_.startsWith("batch=")),
          s"near-dup gate: $statePath holds legacy 'batch=<id>' state dirs — " +
            "rename each to 'b<id>' (adding the batch id as a column) or " +
            "rebuild the state before resuming this stream")
        val compactB = names.collect {
          case n if n.matches("compact_\\d+") => n.drop(8).toLong
        }.filter(_ < id).sorted.lastOption
        val bIds = names.collect { case n if n.matches("b\\d+") => n.drop(1).toLong }
          .filter(k => k < id && compactB.forall(k > _)).sorted
        val statePaths = compactB.map(b => s"$statePath/compact_$b").toSeq ++
          bIds.map(k => s"$statePath/b$k")
        val state =
          if (statePaths.isEmpty) Seq.empty[(Long, Array[Long])].toDF("doc_id", "sh")
          else s.read.parquet(statePaths: _*).select("doc_id", "sh")
        val verdict = graft.dedup.Dedup.minhashKeepIncremental(
          state, batch.toDF(), idCol, textCol, threshold)
        verdict.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$verdictPath/batch=$id")
        // r19 (guide §1.2): the accept filter reads the verdict JUST
        // WRITTEN above — consuming the unmaterialized `verdict` frame
        // here re-executed the whole incremental-dedup pipeline (state
        // read, LSH bands, verify joins) a second time per batch.
        // Same rows by construction (it is this batch's own output).
        batch.toDF().join(
            s.read.parquet(s"$verdictPath/batch=$id")
              .filter(col("keep")).select(col("doc_id").as("__kept")),
            col(idCol) === col("__kept"))
          .drop("__kept")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$acceptPath/batch=$id")
        graft.dedup.Dedup.minhashState(batch.toDF(), idCol, textCol)
          .withColumn("batch", lit(id))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$statePath/b$id")
        // compaction: fold everything this batch's reader saw into one
        // dir named for the previous batch (never the current one)
        if (id >= 1 && compactB.size + bIds.size >= compactEvery) {
          val target = new org.apache.hadoop.fs.Path(s"$statePath/compact_${id - 1}")
          if (!f.exists(target)) {
            val tmp = s"$statePath/.ctmp_${id - 1}"
            s.read.parquet(statePaths: _*)
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
            graft.sinks.Commit.move(f, new org.apache.hadoop.fs.Path(tmp), target)
          }
          // idempotent cleanup of EVERYTHING the compact subsumes —
          // from a fresh listing, not just the dirs this batch's
          // reader saw: a crash after a previous rename-but-before-
          // cleanup leaves stale dirs the reader rule skips but the
          // saw-list would never name (they'd leak forever otherwise)
          f.listStatus(sp).map(_.getPath.getName).foreach { n =>
            val subsumed =
              (n.matches("compact_\\d+") && n.drop(8).toLong < id - 1) ||
                (n.matches("b\\d+") && n.drop(1).toLong <= id - 1)
            if (subsumed)
              f.delete(new org.apache.hadoop.fs.Path(s"$statePath/$n"), true): Unit
          }
        }
      }
  }

  /** Streaming vector-search enrichment (D12): each micro-batch of
   * query vectors is answered against a PERSISTED IVF index
   * ([[graft.similarity.Ann.ivfTopKIndexed]]) and the top-k appended
   * to `outPath` — the serving shape of a real-time embedding
   * lookup (recommendation candidates, near-dup screening on
   * ingest). The heavy structure (centroids, cell partitions) was
   * paid once at index build; each batch reads only its probes'
   * pruned cells, so per-batch cost tracks the batch, not the
   * corpus. Batch answers are byte-identical to calling
   * ivfTopKIndexed directly — the stream adds delivery, not math
   * (StreamingSpec asserts the equality). Each batch writes its own
   * `batch=<id>` subdirectory with overwrite, so a batch REPLAYED
   * after a crash-before-checkpoint lands on the same directory
   * instead of appending duplicates — exactly-once output, the
   * upsertSink idempotence contract for an append-shaped sink.
   * Read the sink with `spark.read.parquet(outPath)` (the batch
   * column is partition-discovered; drop it if unwanted). */
  def vectorSearchSink(queries: DataFrame, indexPath: String,
      idCol: String, vecCol: String, dim: Int, k: Int, nProbe: Int,
      outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.similarity.Ann
            .ivfTopKIndexed(indexPath, batch.toDF(), idCol, vecCol, dim, k, nProbe)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }

  /** Streaming exact dedup: drop repeats of `keyCols` arriving within
   * the watermark window. State is bounded — keys older than the
   * watermark are evicted, which is what makes exact dedup feasible on
   * an unbounded stream. On a BATCH input the same call degenerates to
   * plain `dropDuplicates` (dropDuplicatesWithinWatermark rejects
   * batch plans outright): the watermark exists only to bound state,
   * and batch has the full history, so full-history exact dedup IS
   * the batch semantics of this operator (`q_stream_dedup` checks it
   * against a DISTINCT oracle). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkCol: String = "ts", delay: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events
        .withWatermark(watermarkCol, delay)
        .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
    else events.dropDuplicates(keyCols)

  /** Stateful gap-sessionization: close a user's session when no event
   * arrives within `gapSeconds` (by event time). Emits closed sessions
   * (append mode); open sessions close via event-time timeout.
   *
   * On a BATCH input the trailing session of each user is emitted at
   * end-of-input instead of waiting for a timeout that batch never
   * fires: batch has the COMPLETE history, so end-of-input closes it
   * (the same degeneration argument [[dedupStream]] makes), and the
   * batch run becomes a full-history twin oracle-checkable against a
   * lag/cumsum replay (`q_stream_sessionize`). */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000L
    val streaming = events.isStreaming

    def fn(userId: Long, batch: Iterator[Event],
        state: GroupState[OpenSession]): Iterator[Session] = {
      val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      var open = state.getOption

      if (sorted.isEmpty) {
        if (state.hasTimedOut && open.isDefined) {
          val s = open.get
          out += Session(userId, new java.sql.Timestamp(s.startMs),
            new java.sql.Timestamp(s.lastMs), s.n, s.sum)
          state.remove()
        }
      } else {
        for (e <- sorted) {
          val ms = e.ts.getTime
          open match {
            case Some(s) if ms - s.lastMs <= gapMs =>
              // max: a late (within-watermark) event from a later batch
              // must not move the session end backwards
              open = Some(OpenSession(math.min(s.startMs, ms), math.max(s.lastMs, ms),
                s.n + 1, s.sum + e.value))
            case Some(s) =>
              out += Session(userId, new java.sql.Timestamp(s.startMs),
                new java.sql.Timestamp(s.lastMs), s.n, s.sum)
              open = Some(OpenSession(ms, ms, 1, e.value))
            case None =>
              open = Some(OpenSession(ms, ms, 1, e.value))
          }
        }
        val s = open.get
        if (streaming) {
          state.update(s)
          state.setTimeoutTimestamp(s.lastMs + gapMs)
        } else {
          // complete history: end-of-input closes the trailing session
          out += Session(userId, new java.sql.Timestamp(s.startMs),
            new java.sql.Timestamp(s.lastMs), s.n, s.sum)
        }
      }
      out.iterator
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming per-session pattern matching (D21) — B97's
   * MATCH_RECOGNIZE core live: each gap-closed session emits its
   * chronological symbol string and the regex verdict the moment the
   * event-time timeout proves the session over ("alert when a session
   * ends in error-without-recovery", "count funnel completions as
   * they close"). Session boundary semantics are EXACTLY
   * [[sessionize]]'s (same gap, same timeout machinery); state per
   * key = the open session's symbol string, CAPPED at `maxSymbols`
   * (a runaway session truncates and says so via `truncated` —
   * bounded state on an unbounded stream, never an OOM; the verdict
   * then applies to the kept prefix, fail-visible). In batch the
   * same code replays full histories and closes trailing sessions at
   * end of input — the unified-API twin the oracle replays with
   * windowed SQL. */
  def patternSessions(events: Dataset[Event], pattern: String,
      gapSeconds: Long = 1800, maxSymbols: Int = 4096): Dataset[PatternSession] = {
    import events.sparkSession.implicits._
    require(maxSymbols > 0, "maxSymbols must be positive")
    val gapMs = gapSeconds * 1000L
    val streaming = events.isStreaming
    val rx = pattern.r

    def close(userId: Long, s: OpenPattern): PatternSession = {
      val ms = rx.findAllMatchIn(s.seq).size.toLong
      PatternSession(userId, new java.sql.Timestamp(s.startMs),
        new java.sql.Timestamp(s.lastMs), s.seq, s.truncated,
        rx.findFirstIn(s.seq).isDefined, ms)
    }
    def extend(s: OpenPattern, ms: Long, sym: String): OpenPattern =
      if (s.seq.length >= maxSymbols)
        OpenPattern(s.startMs, math.max(s.lastMs, ms), s.seq, truncated = true)
      else OpenPattern(math.min(s.startMs, ms), math.max(s.lastMs, ms),
        s.seq + sym, s.truncated)

    def fn(userId: Long, batch: Iterator[Event],
        state: GroupState[OpenPattern]): Iterator[PatternSession] = {
      val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[PatternSession]
      var open = state.getOption
      if (sorted.isEmpty) {
        if (state.hasTimedOut && open.isDefined) {
          out += close(userId, open.get)
          state.remove()
        }
      } else {
        for (e <- sorted) {
          val ms = e.ts.getTime
          val sym = e.event_type.take(1)
          open match {
            case Some(s) if ms - s.lastMs <= gapMs => open = Some(extend(s, ms, sym))
            case Some(s) =>
              out += close(userId, s)
              open = Some(OpenPattern(ms, ms, sym, truncated = false))
            case None => open = Some(OpenPattern(ms, ms, sym, truncated = false))
          }
        }
        val s = open.get
        if (streaming) {
          state.update(s)
          state.setTimeoutTimestamp(s.lastMs + gapMs)
        } else out += close(userId, s)
      }
      out.iterator
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** D15: streaming per-key anomaly detection — flag each event whose
   * value deviates from ITS OWN key's running history by more than
   * `zThreshold` standard deviations. The monitoring primitive every
   * ingest wants inline (fraud spikes, sensor faults, price glitches),
   * and the float z-score form is both non-replayable (variance
   * accumulates in reduction order) and unbounded under streaming if
   * done as "join each event to a global profile". Here the state per
   * key is THREE integers (n, Σv, Σv²) in cents, the verdict is the
   * exact integer inequality
   *
   *   (n·v − Σv)² > z²·(n·Σv² − (Σv)²)      [⇔ (v−μ)²/σ² > z²]
   *
   * evaluated in BigInt (no silent overflow at any magnitude), and an
   * all-equal history (zero variance) flags ANY deviation — the
   * fail-loud reading of an infinite z. Verdicts use only PRIOR
   * events (a spike judges against history, then joins it), and the
   * first `minPrior` events of a key never flag (no baseline yet).
   *
   * Scale: state is O(keys)·24 bytes regardless of stream length; the
   * running sums add without rescanning (Σv² overflow fails loudly at
   * ~3e9 max-value events per key, never wraps). In batch the same
   * code degenerates to a full-history replay in (ts, event_id) order
   * — the deterministic twin `q_anomaly` oracle-checks row-for-row
   * against a DuckDB prefix-window replay. */
  def anomalyStream(events: Dataset[Event], minPrior: Long = 10L,
      zThreshold: Long = 3L): Dataset[AnomalyVerdict] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming

    def isAnomaly(st: RunningStats, cents: Long): Boolean =
      st.n >= minPrior && {
        val n = BigInt(st.n); val sv = BigInt(st.sum); val q = BigInt(st.sumSq)
        val dev = n * BigInt(cents) - sv
        dev * dev > BigInt(zThreshold * zThreshold) * (n * q - sv * sv)
      }

    def fn(userId: Long, batch: Iterator[Event],
        state: GroupState[RunningStats]): Iterator[AnomalyVerdict] = {
      val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var st = state.getOption.getOrElse(RunningStats(0L, 0L, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyVerdict]
      for (e <- sorted) {
        val cents = Math.round(e.value * 100.0)
        out += AnomalyVerdict(userId, e.event_id, cents, st.n,
          isAnomaly(st, cents))
        val c2 = cents * cents
        require(st.sumSq <= Long.MaxValue - c2,
          s"anomalyStream: sum-of-squares overflow for key $userId — " +
            "widen the state before trusting another verdict")
        st = RunningStats(st.n + 1, st.sum + cents, st.sumSq + c2)
      }
      if (streaming) state.update(st)
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming clamped balance (D20) — B94's floor-at-zero wallet as
   * a LIVE per-key state machine: two longs of state (balance,
   * cumulative rejected) per key, one verdict per movement, each
   * micro-batch applied in (ts, event_id) order. The batch closed
   * form (Balance.clampedRunningSum) answers "what are the balances";
   * this answers "decline THIS withdrawal now" — the online
   * admission-control form of the same recurrence, and the two must
   * agree movement-for-movement (the StreamingSpec twin gate, the
   * D15 anomaly precedent). State is O(1) per key forever — no
   * window, no history, the smallest possible stateful operator. */
  def clampedBalanceStream(moves: Dataset[WalletDelta]): Dataset[WalletMove] = {
    import moves.sparkSession.implicits._
    val streaming = moves.isStreaming
    def fn(userId: Long, batch: Iterator[WalletDelta],
        state: GroupState[WalletState]): Iterator[WalletMove] = {
      val sorted = batch.toSeq.sortBy(m => (m.ts.getTime, m.event_id))
      var st = state.getOption.getOrElse(WalletState(0L, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[WalletMove]
      for (m <- sorted) {
        val raw = st.balance + m.delta_cents
        val clamped = math.max(0L, raw)
        st = WalletState(clamped, st.rejected + (clamped - raw))
        out += WalletMove(userId, m.event_id, st.balance, st.rejected)
      }
      if (streaming) state.update(st)
      out.iterator
    }
    moves.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /**
   * Per-key per-window rate cap (D22) — the ingestion throttle /
   * per-tenant quota sampler: every event gets its arrival ordinal
   * within its (key, tumbling-window) slot and an `admitted` verdict
   * (ordinal ≤ maxPerWindow). BOTH verdicts are emitted — the
   * rejected ledger is the observability half a rate limiter owes its
   * operators (B94's house rule), and downstream picks `admitted`
   * rows for the throttled stream.
   *
   * State is ONE counter per active (key, window) — bytes, not
   * events: the decision needs only the count so far, never the
   * retained events. Windows are derived arithmetically from event
   * time (no window() explode). In batch the group call sees each
   * slot's full history sorted by event time, so the verdict set
   * equals the row_number() ≤ N twin the oracle replays; in streaming
   * the counter carries across micro-batches and admission is by
   * ARRIVAL order (the online rate-limiter semantics — an
   * out-of-order straggler is judged on arrival, which is the only
   * decision an online limiter can make; StreamingSpec pins the
   * cross-batch counter continuity).
   */
  def rateCapStream(events: Dataset[Event], windowUs: Long,
      maxPerWindow: Int): Dataset[CapVerdict] = {
    import events.sparkSession.implicits._
    require(windowUs > 0 && maxPerWindow > 0,
      s"rateCapStream: need windowUs > 0 and maxPerWindow > 0")
    val streaming = events.isStreaming
    val in = events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        expr(s"unix_micros(ts) div ${windowUs}L * ${windowUs}L")
          .as("win_start_us"))
      .as[CapInput]
    def fn(key: (Long, Long), batch: Iterator[CapInput],
        state: GroupState[CapState]): Iterator[CapVerdict] = {
      val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var n = state.getOption.map(_.count).getOrElse(0L)
      val out = sorted.map { e =>
        n += 1
        CapVerdict(e.user_id, e.event_id, e.win_start_us, n,
          n <= maxPerWindow)
      }
      if (streaming) state.update(CapState(n))
      out.iterator
    }
    in.groupByKey(e => (e.user_id, e.win_start_us))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /**
   * Time-bounded funnel as an ONLINE state machine (D23) — B106's
   * view → click-within-W1 → purchase-within-W2 progression tracked
   * per user as events arrive: the "how far has this user got, right
   * now" view a campaign monitor consumes live, where the batch twin
   * (q_funnel_windowed) answers the same question retrospectively.
   *
   * State per user is THREE timestamps (first view; first qualifying
   * click; first qualifying purchase) — bytes, never retained events.
   * Each micro-batch emits the user's current (stage, timestamps) row;
   * the latest row per user is the live funnel position. In batch the
   * group call sees the full history in event-time order, so the
   * single emitted row per user equals the first-qualifying-event
   * formulation the oracle replays. Users with no view yet emit
   * nothing (a funnel starts at its first stage, not before).
   */
  def funnelStream(events: Dataset[Event], clickWithinUs: Long,
      purchaseWithinUs: Long): Dataset[FunnelUser] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val in = events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[(Long, Long, Long, String)]
    def fn(userId: Long, batch: Iterator[(Long, Long, Long, String)],
        state: GroupState[FunnelState]): Iterator[FunnelUser] = {
      val sorted = batch.toSeq.sortBy(e => (e._3, e._2))
      var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
      for ((_, _, ts, tpe) <- sorted) tpe match {
        case "view" if st.vt < 0 => st = st.copy(vt = ts)
        case "click" if st.vt >= 0 && st.ct < 0 &&
            ts > st.vt && ts <= st.vt + clickWithinUs =>
          st = st.copy(ct = ts)
        case "purchase" if st.ct >= 0 && st.pt < 0 &&
            ts > st.ct && ts <= st.ct + purchaseWithinUs =>
          st = st.copy(pt = ts)
        case _ => ()
      }
      if (streaming) state.update(st)
      if (st.vt < 0) Iterator.empty
      else {
        val stage = if (st.pt >= 0) 2L else if (st.ct >= 0) 1L else 0L
        Iterator.single(FunnelUser(userId, stage, Some(st.vt),
          if (st.ct >= 0) Some(st.ct) else None,
          if (st.pt >= 0) Some(st.pt) else None))
      }
    }
    in.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming as-of enrichment (D24): every `purchase` event is
   * stamped with the user's latest PRIOR `view` event (its time and
   * cents) — the online form of the batch as-of join (B15): "which
   * impression does this conversion attach to, right now". A
   * stream-stream interval join buffers both sides state-heavy and
   * emits only within a bounded band; the as-of shape needs exactly
   * ONE remembered row per key, so the state here is two longs + the
   * cents (the latest view), never a buffer of events. Prior-ness is
   * the (ts, event_id) total order — a view at the same microsecond
   * with a smaller event_id counts as prior, so batch replay and the
   * oracle agree on ties. Batch mode (isStreaming = false) sees the
   * full history per user in event-time order, making the output the
   * exact batch as-of relation the oracle replays; streaming mode
   * carries the latest view across micro-batches (StreamingSpec pins
   * a view in batch 1 enriching a purchase in batch 2, and a
   * pre-view purchase staying bare). */
  def asofEnrichStream(events: Dataset[Event]): Dataset[AsofEnriched] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val in = events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .as[(Long, Long, Long, String, Long)]
    def fn(userId: Long, batch: Iterator[(Long, Long, Long, String, Long)],
        state: GroupState[AsofViewState]): Iterator[AsofEnriched] = {
      val sorted = batch.toSeq.sortBy(e => (e._3, e._2))
      var st = state.getOption.getOrElse(AsofViewState(-1L, -1L))
      val out = Seq.newBuilder[AsofEnriched]
      for ((_, eid, ts, tpe, cents) <- sorted) tpe match {
        case "view" => st = AsofViewState(ts, cents)
        case "purchase" =>
          out += AsofEnriched(userId, eid, ts,
            if (st.viewTs >= 0) Some(st.viewTs) else None,
            if (st.viewTs >= 0) Some(st.viewCents) else None)
        case _ => ()
      }
      if (streaming) state.update(st)
      out.result().iterator
    }
    in.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Stream-static enrichment: join each streaming event to a static
   * dimension table (the reference's side-input lookup under
   * streaming, BQETLSimple.java:65-72 applied to a stream). The
   * static side broadcasts, so every micro-batch is a stateless
   * map-side hash probe — no streaming state, no shuffle of the
   * stream, and unmatched keys keep the row (left join) so a late
   * dimension update can't silently drop events. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame =
    // dataframe-qualified keys: a dimension keyed by the same column
    // name as the stream must not fail with AMBIGUOUS_REFERENCE
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey), "left")

  /** Snapshot-versioned stream enrichment (D18) — [[enrichStream]]
   * against a dimension that is REPUBLISHED independently through
   * [[graft.sinks.Snapshot]]: each micro-batch resolves the currently
   * published version (one tiny manifest read per trigger), broadcast
   * left-joins the batch against that version's parquet, and appends
   * the enriched rows STAMPED with the dim version that served them.
   * This is how a long-running stream tracks a slowly-changing
   * dimension without restart: a publish flips atomically between
   * triggers (A19 — never a torn dim), the next trigger picks it up,
   * and the per-row `dim_version` stamp makes every output row
   * auditable to the exact dim state that enriched it — the lineage a
   * reprocessing debate needs ("was this row labeled before or after
   * the dim fix?").
   *
   * Exactly-once: [[appendEpoch]]'s batch-id-directory layout — a
   * crash-replayed epoch overwrites its own directory. Note the stamp
   * is what makes replay-under-republish VISIBLE rather than silent:
   * a replayed epoch re-enriched against a newer dim version carries
   * the new stamp, so downstream sees the re-label instead of
   * mistaking it for the original. Per-trigger cost: one manifest
   * read + one broadcast of the dim (dims are broadcast-sized by
   * definition here; a fact-sized "dimension" belongs in a
   * stream-stream join instead). */
  def snapshotEnrichSink(stream: DataFrame, snapshotRoot: String,
      dimTable: String, streamKey: String, dimKey: String, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val s = batch.sparkSession
        val ver = graft.sinks.Snapshot.currentVersion(s, snapshotRoot)
        val dim = graft.sinks.Snapshot.read(s, snapshotRoot, dimTable, Some(ver))
        // the dim key is redundant after the left join (equals the
        // stream key on match, null on miss) and collides on same-name
        // keys when the epoch writes — the stream key is authoritative
        val enriched = enrichStream(batch.toDF(), dim, streamKey, dimKey)
          .drop(dim(dimKey))
          .withColumn("dim_version", lit(ver))
        appendEpoch(enriched, path, id)
      }

  /** Stream-stream interval join: each left event joined to the right
   * events with the same key whose timestamp falls in
   * [left.ts − lookback, left.ts] (attribution: purchase ← clicks in
   * the preceding window).
   *
   * Both sides carry a watermark AND the join condition bounds the
   * event-time distance, so Spark can evict right-side state older
   * than watermark + lookback — state stays bounded on an unbounded
   * stream, the requirement for a 100 TB/day join. Column names of the
   * two inputs must be disjoint (alias first), like Ranged.bandedJoin.
   *
   * `joinType` mirrors Spark's stream-stream join modes: "inner"
   * (default), or "left_outer" / "right_outer" / "full_outer" to also
   * emit unmatched rows null-padded — attribution pipelines need the
   * unattributed purchases, not just the attributed ones. Outer rows
   * are emitted only once the watermark proves no match can still
   * arrive, which is why the watermark + time-bound condition are
   * mandatory here rather than optional.
   */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      lookback: String = "1 hour",
      watermark: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "alias left/right columns apart before a stream-stream self-join")
    val allowed = Set("inner", "left_outer", "right_outer", "full_outer")
    require(allowed.contains(joinType),
      s"intervalJoin: joinType '$joinType' not in ${allowed.toSeq.sorted.mkString("/")}")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, expr(
      s"`$leftKey` = `$rightKey` AND " +
      s"`$rightTs` >= `$leftTs` - INTERVAL '$lookback' AND `$rightTs` <= `$leftTs`"),
      joinType)
  }

  /** Stream-stream interval ANTI join (D19) — each left event that has
   * NO right event for its key within `window` AFTER it: timeout /
   * SLA-breach / abandonment detection (the click that never
   * converted, the order never acknowledged, the heartbeat that
   * stopped). Spark offers no streaming NOT EXISTS; the absence test
   * rides the watermarked left_outer interval join — an unmatched
   * left row is emitted exactly once, when the watermark PROVES the
   * match can no longer arrive (absence is only decidable
   * event-time-late, which is why the watermark is mandatory, and why
   * the verdict is deterministic rather than racy). State stays
   * bounded: both sides evict at watermark + window, the same budget
   * [[intervalJoin]] runs on an unbounded stream.
   *
   * Output: the left columns, unchanged. Batch mode: the watermark is
   * a no-op and this degenerates to exact NOT EXISTS — the unified
   * API twin the oracle checks. */
  def intervalAntiJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "alias left/right columns apart before a stream-stream self-join")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, expr(
        s"`$leftKey` = `$rightKey` AND " +
        s"`$rightTs` >= `$leftTs` AND `$rightTs` <= `$leftTs` + INTERVAL '$window'"),
        "left_outer")
      .filter(col(rightKey).isNull)
      .select(left.columns.map(col): _*)
  }

  /** Streaming duplicate-payment alarm (D27) — the B112 AP-fraud
   * screen online: a payment repeating another payment's exact
   * (customer, cents) within `windowUs` raises an alarm AS IT ARRIVES
   * — the review queue fills live instead of at month-end. Each
   * payment pairs with the key's LATEST PRIOR payment (the lag
   * relation), so state per (customer, cents) key is TWO LONGS — the
   * last payment's id and time — never a payment buffer, and the
   * event-time timeout EVICTS keys idle past the window (a prior
   * older than the window could never pair again, so eviction is
   * correctness-neutral and state is bounded by the window's active
   * keys). Batch mode sees each key's full history in (ts, id) order
   * — exactly the per-key lag relation the oracle replays. Streaming
   * caveat (documented): an out-of-order arrival pairs against the
   * latest ALREADY-SEEN payment; the batch twin is the reference. */
  def dupPaymentStream(events: DataFrame, custCol: String, keyCol: String,
      centsCol: String, tsCol: String, windowUs: Long,
      watermark: String = "2 hours"): Dataset[DupAlarm] = {
    require(windowUs > 0, "windowUs must be positive")
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val rows = events
      .withWatermark(tsCol, watermark) // no-op in batch
      .select(col(custCol).cast("long").as("cust"),
        col(keyCol).cast("long").as("okey"),
        col(centsCol).cast("long").as("cents"),
        unix_micros(col(tsCol)).as("ts_us"), col(tsCol).as("ts"))
      .as[(Long, Long, Long, Long, java.sql.Timestamp)]
    def fn(key: (Long, Long), batch: Iterator[(Long, Long, Long, Long, java.sql.Timestamp)],
        state: GroupState[LastPayment]): Iterator[DupAlarm] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val (cust, cents) = key
        val sorted = batch.toSeq.sortBy(e => (e._4, e._2))
        var last = state.getOption
        val out = Seq.newBuilder[DupAlarm]
        for ((_, okey, _, tsUs, _) <- sorted) {
          last.foreach { p =>
            if (tsUs - p.tsUs <= windowUs && tsUs >= p.tsUs)
              out += DupAlarm(cust, cents, p.okey, okey,
                (tsUs - p.tsUs) / 86400000000L)
          }
          last = Some(LastPayment(okey, tsUs))
        }
        if (streaming) last.foreach { p =>
          val evictMs = (p.tsUs + windowUs) / 1000L
          if (evictMs > state.getCurrentWatermarkMs()) {
            state.update(p)
            state.setTimeoutTimestamp(evictMs)
          } else state.remove() // already past the window: nothing can pair
        }
        out.result().iterator
      }
    }
    rows.groupByKey(r => (r._1, r._3))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming order reconciliation (D26) — the online form of the
   * B115 close-of-books audit: order headers and their line items
   * arrive interleaved on ONE stream (the CDC/outbox shape), and each
   * order's verdict — header total vs accumulated line cents — is
   * emitted when the order's event-time horizon closes under the
   * watermark. State per open order is FOUR LONGS (header sum/count,
   * line sum/count) plus its deadline — never a line buffer: sums
   * commute, so arrival order across micro-batches is irrelevant, and
   * the batch twin replays to the exact batch relation whatever the
   * partitioning. The deadline anchors to the order's FIRST-SEEN
   * event time (min ts — deterministic under replay); a headerless
   * order still reports (absence is a finding, None header), a
   * double-headered one withholds abs_diff rather than guessing
   * (n_headers says why). Post-deadline stragglers drop like
   * heavyHitters' (their verdict is already out). */
  def reconcileStream(events: DataFrame, keyCol: String, kindCol: String,
      centsCol: String, tsCol: String, horizonUs: Long,
      watermark: String = "2 hours"): Dataset[ReconVerdict] = {
    require(horizonUs > 0, "horizonUs must be positive")
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val rows = events
      .withWatermark(tsCol, watermark) // no-op in batch
      .select(col(keyCol).cast("long").as("okey"),
        col(kindCol).cast("string").as("kind"),
        col(centsCol).cast("long").as("cents"),
        unix_micros(col(tsCol)).as("ts_us"), col(tsCol).as("ts"))
      .as[(Long, String, Long, Long, java.sql.Timestamp)]
    def verdict(okey: Long, s: ReconState): ReconVerdict =
      ReconVerdict(okey, s.nHeaders,
        if (s.nHeaders > 0) Some(s.headerCents) else None,
        s.lineCents, s.nLines,
        if (s.nHeaders == 1) Some(math.abs(s.headerCents - s.lineCents)) else None)
    def fn(okey: Long, batch: Iterator[(Long, String, Long, Long, java.sql.Timestamp)],
        state: GroupState[ReconState]): Iterator[ReconVerdict] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(s => Iterator.single(verdict(okey, s)))
          .getOrElse(Iterator.empty)
        state.remove()
        out
      } else {
        var s = state.getOption.getOrElse(ReconState(0L, 0L, 0L, 0L, Long.MaxValue))
        batch.foreach { case (_, kind, cents, tsUs, _) =>
          val deadline = math.min(s.deadlineUs, tsUs + horizonUs)
          s = if (kind == "H")
            ReconState(s.nHeaders + 1, s.headerCents + cents,
              s.lineCents, s.nLines, deadline)
          else
            ReconState(s.nHeaders, s.headerCents,
              s.lineCents + cents, s.nLines + 1, deadline)
        }
        if (streaming) {
          if (s.deadlineUs / 1000L <= state.getCurrentWatermarkMs())
            Iterator.empty // straggler: this order's verdict already shipped
          else {
            state.update(s)
            state.setTimeoutTimestamp(s.deadlineUs / 1000L)
            Iterator.empty
          }
        } else Iterator.single(verdict(okey, s))
      }
    }
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Live peak-concurrency gauge (D25) — the streaming twin of the
   * batch sweep line ([[graft.operators.Sweep.peakConcurrent]], B63):
   * "how many sessions were open at once, per hour", emitted as each
   * hour closes under the watermark.
   *
   * The batch sweep's carry-in chain (every bucket's level depends on
   * ALL prior buckets) is unusable online, so the stream uses the
   * SELF-CONTAINED decomposition: each interval [s, s+len) is clipped
   * to the buckets it covers, and every piece opens (+1) and closes
   * (−1) INSIDE its own bucket — a bucket's peak is then the max
   * prefix of just its own deltas from level 0, no cross-bucket
   * state. A −1 landing exactly on a bucket boundary belongs to the
   * bucket it CLOSES ((t−1) div H), and equal-instant deltas order
   * −1 before +1 (end-exclusive), both mirrored in the oracle, so the
   * levels are identical to the batch sweep's at every instant.
   *
   * State per open bucket is its own piece-delta buffer — bounded by
   * the bucket's traffic, evicted at watermark (the exact buffer a
   * batch sweep would shuffle to that bucket's task anyway); pieces
   * per interval are bounded by `maxSpanBuckets` (an interval longer
   * than that fails loudly at the decompose — never a silent explode).
   * Late pieces after their bucket finalized are dropped on the
   * floor like heavyHitters' stragglers (the timeout already fired;
   * re-registering a past timeout kills the query). Batch mode: the
   * same code path sweeps each group directly — the unified twin the
   * oracle replays. */
  def concurrencyStream(events: DataFrame, tsCol: String, lenUs: Long,
      bucketUs: Long, watermark: String = "2 hours",
      maxSpanBuckets: Int = 4): Dataset[BucketPeak] = {
    require(lenUs > 0 && bucketUs > 0, "lenUs and bucketUs must be positive")
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val pieces = events
      .withWatermark(tsCol, watermark) // no-op in batch
      .select(unix_micros(col(tsCol)).as("s"), col(tsCol).as("ts"))
      .withColumn("e", col("s") + lenUs)
      .withColumn("b0", expr(s"s div ${bucketUs}L"))
      .withColumn("b1", expr(s"(e - 1) div ${bucketUs}L"))
      .withColumn("b1", when(col("b1") - col("b0") < maxSpanBuckets, col("b1"))
        .otherwise(raise_error(concat(lit(
          s"concurrencyStream: interval spans more than $maxSpanBuckets " +
            "buckets at s="), col("s").cast("string")))))
      .select(explode(expr("sequence(b0, b1)")).as("b"), col("s"), col("e"),
        col("ts"))
      .withColumn("ps", greatest(col("s"), expr(s"b * ${bucketUs}L")))
      .withColumn("pe", least(col("e"), expr(s"(b + 1) * ${bucketUs}L")))
      .select(col("b"), explode(array(
          struct(col("ps").as("t"), lit(1L).as("d")),
          struct(col("pe").as("t"), lit(-1L).as("d")))).as("td"),
        ((col("b") + 1L) * bucketUs).as("bend"), col("ts"))
      .select(col("b"), col("td.t").as("t"), col("td.d").as("d"), col("bend"),
        col("ts"))
      .as[(Long, Long, Long, Long, java.sql.Timestamp)]
    def sweep(bucket: Long, buf: ConcBuf): BucketPeak = {
      val sorted = buf.ts.zip(buf.ds).sortBy(identity)
      var (run, peak) = (0L, 0L)
      for ((_, d) <- sorted) { run += d; if (run > peak) peak = run }
      BucketPeak(bucket, peak, buf.ts.size / 2)
    }
    def fn(bucket: Long, batch: Iterator[(Long, Long, Long, Long, java.sql.Timestamp)],
        state: GroupState[ConcBuf]): Iterator[BucketPeak] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(b => Iterator.single(sweep(bucket, b)))
          .getOrElse(Iterator.empty)
        state.remove()
        out
      } else {
        val prev = state.getOption.getOrElse(ConcBuf(Nil, Nil, 0L))
        // bulk concat once per micro-batch — a per-row :+ on immutable
        // Seqs is quadratic in the bucket's traffic
        val (addT, addD, addEnd) = {
          val tb = Array.newBuilder[Long]
          val db = Array.newBuilder[Long]
          var bend = prev.bucketEndUs
          batch.foreach { case (_, t, d, be, _) => tb += t; db += d; bend = be }
          (tb.result(), db.result(), bend)
        }
        val buf = ConcBuf(prev.ts ++ addT, prev.ds ++ addD, addEnd)
        if (streaming) {
          if (buf.bucketEndUs / 1000L <= state.getCurrentWatermarkMs())
            Iterator.empty // straggler for an already-finalized bucket
          else {
            state.update(buf)
            state.setTimeoutTimestamp(buf.bucketEndUs / 1000L)
            Iterator.empty
          }
        } else Iterator.single(sweep(bucket, buf))
      }
    }
    pieces.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
