package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QuerySupport._

/** SURVEY §2 section D: the streaming operators, each driven
 * through real micro-batches and compared with its batch relation.
 * Each query is one [[QuerySpec]] in `specs`: its name, its builder
 * below and the DuckDB SQL the oracle replays. */
object StreamingQueries {

  /** D17 (r14): exactly-once streaming append
   * ([[graft.streaming.EventStream.appendSink]]) — an orders slice
   * streamed through the REAL checkpointed epoch-directory sink over
   * two micro-batches, then epoch 0 is deliberately RE-APPLIED (the
   * crash-replay): the read-back must equal the slice exactly once —
   * idempotence by layout, no sink commit log to lose. */
  private def qAppendSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val slice = t(s, dir, "orders").filter(col("o_orderkey") % 41 === 0)
      .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("v"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val (b1, b2) = slice.splitAt(slice.length / 2)
    val base = graft.Scratch.callDir(s, "append")
    val (table, ckpt) = (s"$base/table", s"$base/ckpt")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = graft.streaming.EventStream.appendSink(in.toDF.toDF("k", "v"), table)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(b1.toSeq)
      q.processAllAvailable()
      in.addData(b2.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    graft.streaming.EventStream.appendEpoch(b1.toSeq.toDF("k", "v"), table, 0L)
    s.read.parquet(table).select(col("k"), col("v")).orderBy("k")
  }

  /** D16 (r14): streaming distribution-drift monitor
   * ([[graft.streaming.EventStream.histogramDrift]]) run in batch —
   * 6-hour value histograms (histogramStream's bounded counters)
   * finalized against a pinned reference histogram (the deterministic
   * even-event_id slice). Integer ppm shares end to end; the oracle
   * replays window bucketing, both share computations, the full-outer
   * bucket union, and the smallest-worst-bucket tie-break. */
  private def qStreamDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = withEventTime(t(s, dir, "events"))
    val hist = graft.streaming.EventStream.histogramStream(
      ev.select(col("ts"), col("value")),
      windowLen = "6 hours", bucketCents = 500L)
    val ref = ev.where(col("event_id") % 2 === 0)
      .select(expr("cast(round(value * 100, 0) as bigint) div 500").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("ref_cnt"))
    graft.streaming.EventStream.histogramDrift(hist, ref)
      .orderBy("window_start_us")
  }

  /** D15 (r14): streaming per-key anomaly detection
   * ([[graft.streaming.EventStream.anomalyStream]]) run in batch —
   * the full-history deterministic twin (events replayed per user in
   * (ts, event_id) order, verdicts from PRIOR events only). Emits the
   * flagged rows; the oracle replays the exact integer z² inequality
   * with DuckDB prefix windows row-for-row. StreamingSpec drives the
   * same operator incrementally through MemoryStream. */
  private def qAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = withEventTime(t(s, dir, "events"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"))
      .as[graft.streaming.Event]
    graft.streaming.EventStream.anomalyStream(ev)
      .toDF()
      .where(col("is_anomaly"))
      .select(col("user_id"), col("event_id"), col("cents"), col("n_prior"))
      .orderBy("user_id", "event_id")
  }

  /** D1 (batch side of the unified API): tumbling-window hourly event
   * aggregation — the same EventStream.windowedAgg operator that runs
   * under Structured Streaming (StreamingSpec drives it incrementally). */
  private def qHourlyEvents(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream
      .windowedAgg(withEventTime(t(s, dir, "events")), "1 hour", "10 minutes")
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour_start", "event_type")

  /** D1b: HOPPING (sliding) windows — each event lands in
   * windowLen/slide overlapping windows (here 1h/15min = 4); the same
   * `window(ts, len, slide)` aggregate runs under streaming with
   * watermark eviction (D1's tumbling window is the slide = len
   * special case). Oracle replays the window replication with integer
   * epoch-microsecond arithmetic. */
  private def qSlidingWindow(s: SparkSession, dir: String): DataFrame =
    withEventTime(t(s, dir, "events"))
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"))
      .orderBy("win_start_us", "event_type")

  /** D9: streaming heavy hitters (EventStream.heavyHittersStream) run
   * in batch — per-hour Misra-Gries summaries at capacity 8. The
   * events table has 5 distinct types, so no decrement ever fires and
   * the summary is provably EXACT: the oracle is a plain windowed
   * GROUP BY count. The over-capacity regime (where counts become
   * n/(c+1)-bounded lower bounds) is covered in StreamingSpec. */
  private def qStreamTopk(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream
      .heavyHittersStream(withEventTime(t(s, dir, "events")),
        "event_type", "ts", "1 hour", capacity = 8)
      .toDF()
      .orderBy("window_start_us", "item")

  /** D9b: the weighted-MG pre-reduced path ([[graft.streaming
   * .EventStream.heavyHittersWeightedStream]]) over the same input —
   * the per-partition (window, item) → weight combine that removes the
   * one-task-per-window throughput ceiling. Below capacity the summary
   * is exact regardless of path, so the SAME plain windowed GROUP BY
   * count oracle proves the pre-reduction changes nothing. */
  private def qStreamTopkWeighted(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream
      .heavyHittersWeightedStream(withEventTime(t(s, dir, "events")),
        "event_type", "ts", "1 hour", capacity = 8)
      .toDF()
      .orderBy("window_start_us", "item")

  /** D10: streaming windowed quantiles (EventStream.histogramStream +
   * histogramQuantiles) run in batch — per-hour integer value
   * histograms (the bounded mergeable summary; exact streaming
   * quantiles are unbounded-state) finalized to p50/p90/p99 at bucket
   * precision. Integer buckets, counts, and edges end to end, so the
   * oracle replays the whole pipeline — bucketing, cumulative rank,
   * quantile pick — in DuckDB exactly. StreamingSpec drives the same
   * histogram incrementally and checks cross-micro-batch additivity. */
  private def qStreamQuantile(s: SparkSession, dir: String): DataFrame = {
    val hist = graft.streaming.EventStream.histogramStream(
      withEventTime(t(s, dir, "events")), "1 hour", "10 minutes", bucketCents = 100L)
    graft.streaming.EventStream
      .histogramQuantiles(hist, Seq(500000L, 900000L, 990000L), bucketCents = 100L)
      .orderBy("window_start_us", "q_ppm")
  }

  /** D2 (r14): custom stateful gap sessionization
   * ([[graft.streaming.EventStream.sessionize]],
   * flatMapGroupsWithState) run on the batch input — Spark's unified
   * API executes the SAME state function per user group, and batch
   * end-of-input closes each user's trailing session (complete
   * history; the dedupStream degeneration argument), so the output is
   * the full session set and the oracle is the q_sessionize-style
   * lag/cumsum replay. Semantics differ from B6 in two ways the
   * oracle mirrors: time is MILLISECOND-space (the state function
   * keys on Timestamp.getTime) and values ride through the state as
   * cents-valued doubles (integer-valued doubles sum exactly in any
   * order, so the double accumulator is oracle-safe). StreamingSpec
   * separately drives the watermark/timeout path incrementally. */
  private def qStreamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = withEventTime(t(s, dir, "events"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        round(col("value") * 100, 0).as("value"))
      .as[graft.streaming.Event]
    graft.streaming.EventStream.sessionize(ev, gapSeconds = 1800)
      .toDF()
      .select(col("user_id"),
        (unix_millis(col("session_start")) * 1000L).as("session_start_us"),
        (unix_millis(col("session_end")) * 1000L).as("session_end_us"),
        col("n_events"), col("sum_value").cast("long").as("sum_cents"))
      .orderBy("user_id", "session_start_us")
  }

  /** D12 (r14): the streaming vector-search sink
   * ([[graft.streaming.EventStream.vectorSearchSink]]) promoted from
   * spec-only to a driver-gated row. The query drives the REAL
   * writeStream sink — MemoryStream probes over two micro-batches,
   * checkpointed foreachBatch appends into batch=<id> dirs — against
   * the same persisted IVF index q_ann_ivf_indexed serves, reads the
   * sink back, and emits per-probe equality against a direct
   * [[graft.similarity.Ann.ivfTopKIndexed]] call (identical
   * deterministic code path, so cos doubles are byte-equal). The
   * oracle asserts the bounded invariant: every probe answered with
   * exactly k rows and zero sink/direct divergence. Driver state is
   * the 3 probe vectors only. */
  private def qVectorSearchSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val emb = t(s, dir, "embeddings")
    val idx = withBuiltIndex(s, dir, "ivf_index")(
      graft.similarity.Ann.buildIvfIndex(emb, "vec_id", "embedding", 64, _))
    val probes = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
    val probeRows = probes.as[(Long, Array[Float])].collect().sortBy(_._1)
    val base = graft.Scratch.callDir(s, "vss")
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.EventStream.vectorSearchSink(
        in.toDF.toDF("vec_id", "embedding"), idx, "vec_id", "embedding",
        dim = 64, k = 5, nProbe = 5, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(probeRows.take(2).toSeq)
      q.processAllAvailable()
      in.addData(probeRows.drop(2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = s.read.parquet(out)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"))
    val want = graft.similarity.Ann
      .ivfTopKIndexed(idx, probes, "vec_id", "embedding", 64, 5, nProbe = 5)
      .select(col("probe_id").as("w_probe"), col("rank").as("w_rank"),
        col("vec_id").as("w_vec"), col("cos").as("w_cos"))
    val matched = got.join(want,
        col("probe_id") === col("w_probe") && col("rank") === col("w_rank") &&
          col("vec_id") === col("w_vec") && col("cos") === col("w_cos"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_match"))
    got.groupBy("probe_id").agg(count(lit(1)).as("n_got"))
      .join(matched, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_got").as("k_rows"),
        (col("n_got") === lit(5L) &&
          coalesce(col("n_match"), lit(0L)) === col("n_got"))
          .as("sink_matches_direct"))
      .orderBy("probe_id")
  }

  /** D12b (r19, VERDICT r18 #6): streaming ANN freshness under
   * DELETES — a C7h tombstone landing BETWEEN micro-batches must be
   * respected by the very next batch. The serving path masks
   * tombstones inside [[graft.similarity.Ann.ivfTopKIndexed]] by
   * re-probing the sidecar per call, so freshness holds by
   * construction — this row PINS it under a real checkpointed stream
   * instead of assuming it. A fresh index (deletes mutate — the
   * shared cached-index helper cannot serve), one probe batch, then
   * [[graft.similarity.Ann.deleteFromIvfIndex]] of every non-probe
   * id batch 0 answered, then the SAME probes as batch 1. Per probe,
   * driver-checked on bounded (≤15-row) lists: batch 0 served at
   * least one doomed id (the delete is observable), batch 1 serves
   * none, and batch 1 equals the direct post-delete indexed search
   * id-for-id. */
  private def qStreamAnnDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val emb = t(s, dir, "embeddings")
    val idx = graft.Scratch.callDir(s, "stream_ann_del")
    graft.similarity.Ann.buildIvfIndex(emb, "vec_id", "embedding", 64, idx)
    val probes = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
    val probeRows = probes.as[(Long, Array[Float])].collect().sortBy(_._1)
    val base = graft.Scratch.callDir(s, "sad")
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.EventStream.vectorSearchSink(
        in.toDF.toDF("vec_id", "embedding"), idx, "vec_id", "embedding",
        dim = 64, k = 5, nProbe = 5, out)
      .option("checkpointLocation", ckpt).start()
    val doomed = try {
      in.addData(probeRows.toSeq)
      q.processAllAvailable()
      // the tombstone lands BETWEEN micro-batches: every non-probe id
      // batch 0 served (bounded: <= 3 probes x 5)
      val d = s.read.parquet(s"$out/batch=0").filter(col("vec_id") >= 3L)
        .select("vec_id").distinct().as[Long].collect().toSeq.sorted
      graft.similarity.Ann.deleteFromIvfIndex(idx, d.toDF("vec_id"), "vec_id")
      in.addData(probeRows.toSeq)
      q.processAllAvailable()
      d.toSet
    } finally q.stop()
    val served = s.read.parquet(out)
      .select(col("batch").cast("long").as("b"), col("probe_id"), col("vec_id"))
      .as[(Long, Long, Long)].collect().toSeq
    val direct = graft.similarity.Ann
      .ivfTopKIndexed(idx, probes, "vec_id", "embedding", 64, 5, nProbe = 5)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSeq
    probeRows.map(_._1).toSeq.map { p =>
      val b0 = served.collect { case (0L, `p`, v) => v }.toSet
      val b1 = served.collect { case (1L, `p`, v) => v }.toSet
      val e = direct.collect { case (`p`, v) => v }.toSet
      (p, b0.intersect(doomed).nonEmpty, b1.intersect(doomed).isEmpty, b1 == e)
    }.toDF("probe_id", "pre_delete_served", "deleted_excluded", "matches_direct")
      .orderBy("probe_id")
  }

  /** D13 (r14): streaming changelog apply
   * ([[graft.streaming.EventStream.cdcSink]]) — a Debezium-shaped
   * change feed driven through the REAL checkpointed writeStream sink
   * (MemoryStream, two micro-batches): batch 1 bootstraps a keyed
   * slice of orders as upserts, batch 2 updates the even keys and
   * deletes the odd multiples of 3. The query returns the final
   * serving table, and the oracle computes the same end state
   * directly from orders in SQL — a full-value check that the
   * streamed applyCdc path (merge, delete, rewrite-swap, per-batch
   * checkpoint) loses and invents nothing. Driver state is the
   * bounded changelog slice (o_orderkey % 37 = 0), the D12 probe
   * precedent. */
  private def qCdcSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val slice = t(s, dir, "orders")
      .filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("v"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val batch1 = slice.map { case (k, v) => (k, v, "U") }
    val batch2 = slice.collect {
      case (k, v) if k % 2 == 0 => (k, v + 7L, "U")
      case (k, _) if k % 3 == 0 => (k, 0L, "D")
    }
    val base = graft.Scratch.callDir(s, "cdc_sink")
    val (table, ckpt) = (s"$base/table", s"$base/ckpt")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
    val q = graft.streaming.EventStream.cdcSink(
        in.toDF.toDF("k", "v", "_op"), table, Seq("k"))
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(batch1.toSeq)
      q.processAllAvailable()
      in.addData(batch2.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.read.parquet(table).select(col("k"), col("v")).orderBy("k")
  }

  /** D28 (r15): streaming governed-snapshot publish
   * ([[graft.streaming.EventStream.snapshotPublishSink]]) — the
   * streaming write path into the A19 namespace, driven through the
   * REAL checkpointed sink: two micro-batches (full slice, then
   * updates to a key subset) each publish a new gated version and
   * advance `prod`; the query reads `prod` back and also pins the
   * version count (exactly one version per clean batch). Oracle: the
   * LWW end state replayed in SQL + the pinned count. */
  private def qStreamSnapshotPublish(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val slice = t(s, dir, "orders")
      .filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("v"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val batch1 = slice.toSeq
    val batch2 = slice.collect { case (k, v) if k % 2 == 0 => (k, v + 7L) }.toSeq
    val base = graft.Scratch.callDir(s, "snap_sink")
    val (root, ckpt) = (s"$base/root", s"$base/ckpt")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = graft.streaming.EventStream.snapshotPublishSink(
        in.toDF.toDF("k", "v"), root, "orders_live", Seq("k"))
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(batch1)
      q.processAllAvailable()
      in.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()
    val nVers = graft.sinks.Snapshot.currentVersion(s, root)
    graft.sinks.Snapshot.readTag(s, root, "orders_live", "prod")
      .select(col("k"), col("v"), lit(nVers).as("n_versions"))
      .orderBy("k")
  }

  /** D29 (r16): streaming publish onto a BRANCH
   * ([[graft.streaming.EventStream.snapshotBranchSink]]) — a new
   * streaming feed STAGED against the governed warehouse: the stream
   * publishes micro-batches onto an A35 branch (LWW merge against the
   * ref's own head, A27-gated, other tables carried by links) while
   * `prod` stays pinned at its pre-stream version; after burn-in the
   * branch three-way-merges back (A36) and prod atomically gains the
   * feed's end state joined with its consistent base. The query runs
   * the full lifecycle through the REAL checkpointed sink and emits
   * the prod-served feed table after the merge, with the pre-merge
   * prod version and the final version count pinned as columns —
   * the oracle replays the LWW end state and both constants. */
  private def qStreamBranchPublish(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val slice = t(s, dir, "orders")
      .filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("v"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val batch1 = slice.toSeq
    val batch2 = slice.collect { case (k, v) if k % 2 == 0 => (k, v + 7L) }.toSeq
    val base = graft.Scratch.callDir(s, "branch_sink")
    val (root, ckpt) = (s"$base/root", s"$base/ckpt")
    val dim = t(s, dir, "nation").select("n_nationkey", "n_name")
    graft.sinks.Snapshot.publish(s, root, Map("dim" -> dim))       // v1
    graft.sinks.Snapshot.tag(s, root, "prod", 1L)
    graft.sinks.Snapshot.branch(s, root, "feed", "prod")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = graft.streaming.EventStream.snapshotBranchSink(
        in.toDF.toDF("k", "v"), root, "orders_live", Seq("k"), "feed")
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(batch1)
      q.processAllAvailable()
      in.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()
    val prodBefore = graft.sinks.Snapshot.tagVersion(s, root, "prod")
    require(prodBefore == 1L,
      s"stream branch publish: prod moved during the stream (v$prodBefore)")
    graft.sinks.Snapshot.mergeRef(s, root, "feed", "prod")
    val nVers = graft.sinks.Snapshot.currentVersion(s, root)
    graft.sinks.Snapshot.readTag(s, root, "orders_live", "prod")
      .select(col("k"), col("v"),
        lit(prodBefore).as("prod_before"), lit(nVers).as("n_versions"))
      .orderBy("k")
  }

  /** D30 (r16): streaming quality-gated corpus ingest
   * ([[graft.streaming.EventStream.qualityGateSink]]) — the C90
   * classifier and C89 repetition kernels scoring each micro-batch
   * inline and splitting accept/reject: the live form of the batch
   * quality chain, driven through the real checkpointed sink in two
   * batches (even doc_ids, then odd — every doc streamed exactly
   * once) with the C89 repetition plant riding along. The query reads
   * BOTH sinks back and emits every doc's score, repetition ppm, and
   * verdict; DuckDB replays both kernels and the gate over the same
   * planted corpus — the stream adds delivery, not math. */
  private def qStreamQualityGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val slice = t(s, dir, "documents")
      .withColumn("rtext", when(col("doc_id") % 9 === 0,
        concat(col("text"), expr("repeat(' buy cheap now', 12)")))
        .otherwise(col("text")))
      .select("doc_id", "rtext").as[(Long, String)].collect().sortBy(_._1)
    val b1 = slice.filter(_._1 % 2 == 0).toSeq
    val b2 = slice.filter(_._1 % 2 == 1).toSeq
    val base = graft.Scratch.callDir(s, "qgate")
    val (accept, reject, ckpt) = (s"$base/accept", s"$base/reject", s"$base/ckpt")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.qualityGateSink(
        in.toDF.toDF("doc_id", "rtext"), "doc_id", "rtext", accept, reject,
        seed = 1442695040888963407L)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    s.read.parquet(accept).unionByName(s.read.parquet(reject))
      .select(col("doc_id"), col("score"), col("top2_ppm"), col("accepted"))
      .orderBy("doc_id")
  }

  /** D31 (r16): streaming near-duplicate gate
   * ([[graft.streaming.EventStream.nearDupGateSink]]) — C37's
   * incremental cross-batch dedup live: two real checkpointed
   * micro-batches split at the id midpoint — batch ids MONOTONE
   * across batches, the arrival contract under which the streamed
   * verdict union equals one full-batch keep-first run (new docs get
   * new ids; an out-of-order smaller-id arrival cannot retire an
   * already-final verdict — that is a rebuild, the C37 contract, and
   * exactly why the parity split would NOT oracle against the full
   * run). Each batch dedups within itself and against the
   * accumulated text-free shingle state; the oracle replays the full
   * run in string space (the C2 keep-table SQL, same LSH-recall
   * hedge). */
  private def qStreamNeardupGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val slice = t(s, dir, "documents")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val mid = (slice.head._1 + slice.last._1) / 2
    val b1 = slice.filter(_._1 <= mid).toSeq
    val b2 = slice.filter(_._1 > mid).toSeq
    val base = graft.Scratch.callDir(s, "ndgate")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.nearDupGateSink(
        in.toDF.toDF("doc_id", "text"), "doc_id", "text",
        s"$base/accept", s"$base/state", s"$base/verdict")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    // the accept sink must be exactly the keep=true verdicts
    val nAccept = s.read.parquet(s"$base/accept").count()
    val v = s.read.parquet(s"$base/verdict")
    require(nAccept == v.filter(col("keep")).count(),
      s"near-dup gate: accept sink diverged from the verdicts")
    // keep (not n_dups_smaller) is what the increment≡full-run
    // contract guarantees: cross-generation partner COUNTS see raw
    // state docs where the full run sees exact-collapsed reps, so the
    // counts can differ while every verdict agrees (the C37
    // equivalence row compares keep for exactly this reason)
    v.select(col("doc_id"), col("keep")).orderBy("doc_id")
  }

  /** D14 (r14): streaming version-guarded upsert
   * ([[graft.streaming.EventStream.versionedUpsertSink]]) — the A18
   * LWW merge driven through the REAL checkpointed sink with the
   * batches deliberately OUT OF ORDER across micro-batches: the newer
   * versions stream first, the full older backfill second, and the
   * serving table must converge to the same end state
   * q_upsert_versioned reaches (the oracle is the same SQL). Driver
   * state is the bounded changelog slice (the D12/D13 precedent). */
  private def qUpsertVersionedStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val slice = t(s, dir, "orders")
      .filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("v"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val newer = slice.collect { case (k, v) if k % 3 == 0 => (k, v, 2L) }
    val older = slice.map { case (k, v) => (k, v + 5L, 1L) }
    val base = graft.Scratch.callDir(s, "vup_sink")
    val (table, ckpt) = (s"$base/table", s"$base/ckpt")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val q = graft.streaming.EventStream.versionedUpsertSink(
        in.toDF.toDF("k", "v", "ver"), table, Seq("k"), "ver")
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(newer.toSeq)
      q.processAllAvailable()
      in.addData(older.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.read.parquet(table).select(col("k"), col("v"), col("ver")).orderBy("k")
  }

  /** D18 (r14): snapshot-versioned stream enrichment
   * ([[graft.streaming.EventStream.snapshotEnrichSink]]) — a stream
   * enriched against a dimension REPUBLISHED mid-stream through the
   * A19 snapshot: batch 1 (even keys) must carry v1 labels, then the
   * dim flips atomically, and batch 2 (odd keys) must carry v2's
   * rewritten labels plus the new version stamp — no restart, no torn
   * dim, every row auditable to the dim state that enriched it. The
   * oracle replays the batch→version mapping in SQL. */
  private def qSnapshotEnrichStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = graft.Scratch.callDir(s, "snap_enrich")
    val (root, out, ckpt) = (s"$base/dim", s"$base/out", s"$base/ckpt")
    val nation = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    graft.sinks.Snapshot.publish(s, root, Map("nation" -> nation))
    val slice = t(s, dir, "customer").filter(col("c_custkey") % 53 === 0)
      .select(col("c_custkey"), col("c_nationkey"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = graft.streaming.EventStream.snapshotEnrichSink(
        in.toDF.toDF("c_custkey", "c_nationkey"), root, "nation",
        "c_nationkey", "n_nationkey", out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(slice.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      graft.sinks.Snapshot.publish(s, root, Map("nation" ->
        nation.withColumn("n_name", concat(col("n_name"), lit("#2")))))
      in.addData(slice.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    s.read.parquet(out)
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"),
        col("dim_version"))
      .orderBy("c_custkey")
  }

  /** D19 (batch side of the unified API): interval anti join
   * ([[graft.streaming.EventStream.intervalAntiJoin]]) — clicks that
   * did NOT convert to a purchase by the same user within the
   * following hour (abandonment). In batch the watermark is a no-op
   * and the operator degenerates to exact NOT EXISTS, which is
   * precisely the oracle's formulation; StreamingSpec drives the same
   * operator through micro-batches and checks watermark-final
   * absence verdicts. */
  private def qIntervalAnti(s: SparkSession, dir: String): DataFrame = {
    val ev = withEventTime(t(s, dir, "events"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    graft.streaming.EventStream.intervalAntiJoin(
        clicks, purchases, "c_user", "p_user", "c_ts", "p_ts",
        window = "1 hour")
      .select(col("click_id"), col("c_user").as("user_id"))
      .orderBy("click_id")
  }

  /** D20 (batch side of the unified API): streaming clamped balance
   * ([[graft.streaming.EventStream.clampedBalanceStream]]) — the B94
   * wallet as an online state machine (decline THIS withdrawal now),
   * run in batch where the group call sees each key's full history in
   * order. The oracle replays B94's closed form PER MOVEMENT — the
   * sequential state machine and the prefix-min identity must agree
   * on every row, which is exactly the claim that makes the batch and
   * streaming forms one operator. */
  private def qClampedBalanceStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val moves = withEventTime(t(s, dir, "events"))
      .filter(col("event_type").isin("purchase", "signup", "view", "error"))
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type").isin("purchase", "signup"), cents(col("value")))
          .otherwise(-cents(col("value"))).as("delta_cents"))
      .as[graft.streaming.WalletDelta]
    graft.streaming.EventStream.clampedBalanceStream(moves)
      .toDF().orderBy("event_id")
  }

  /** D22 (batch side of the unified API): per-key per-window rate cap
   * ([[graft.streaming.EventStream.rateCapStream]]) — every event's
   * arrival ordinal within its (user, hour) slot plus the admitted
   * verdict at cap 3; the rejected half is emitted too (the B94
   * rejected-ledger rule). In batch each slot's full history arrives
   * sorted, so the verdicts equal the row_number() ≤ N formulation
   * the oracle replays; StreamingSpec pins the cross-micro-batch
   * counter continuity. */
  private def qRateCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = withEventTime(t(s, dir, "events"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"))
      .as[graft.streaming.Event]
    graft.streaming.EventStream
      .rateCapStream(ev, windowUs = 3600000000L, maxPerWindow = 3)
      .toDF()
      .select(col("user_id"), col("event_id"), col("win_start_us"),
        col("seq_in_window"), col("admitted"))
      .orderBy("event_id")
  }

  /** D23 (batch side of the unified API): live time-bounded funnel
   * ([[graft.streaming.EventStream.funnelStream]]) — B106's funnel as
   * an online per-user state machine (three timestamps of state,
   * never retained events); in batch each user's full history arrives
   * in event-time order, so the one row per user equals the
   * first-qualifying-event formulation the oracle replays.
   * StreamingSpec pins cross-batch state and window enforcement. */
  private def qFunnelLive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = withEventTime(t(s, dir, "events"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"))
      .as[graft.streaming.Event]
    graft.streaming.EventStream
      .funnelStream(ev, clickWithinUs = 3600000000L,
        purchaseWithinUs = 86400000000L)
      .toDF()
      .select(col("user_id"), col("stage"), col("vt_us"), col("ct_us"),
        col("pt_us"))
      .orderBy("user_id")
  }

  /** D24 (batch side of the unified API): as-of enrichment — every
   * purchase stamped with the user's latest prior view
   * ([[graft.streaming.EventStream.asofEnrichStream]]: state = ONE
   * remembered view per user, never an event buffer). Batch mode
   * replays full per-user histories in (ts, event_id) order, so the
   * output is the exact batch as-of relation; the oracle replays it
   * as a last-non-null window over the same total order.
   * StreamingSpec pins cross-batch state carry. */
  /** D27 (r14): streaming duplicate-payment alarm
   * ([[graft.streaming.EventStream.dupPaymentStream]]) — B112's
   * AP-fraud screen online: a payment repeating another's exact
   * (customer, cents) within 30 days alarms as it arrives. Pairing is
   * the per-key LAG relation (latest prior), so state is two longs
   * per active key, evicted past the window. Same planted duplicates
   * as B112; batch mode = the exact per-key lag relation the oracle
   * replays. */
  private def qDupAlarm(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey").cast("long").as("okey"), col("o_custkey"),
        cents(col("o_totalprice")).as("c"),
        col("o_orderdate").cast("date").as("d"))
    val planted = base.filter(col("okey") % 100 === 0L)
      .select((col("okey") + 10000000L).as("okey"), col("o_custkey"),
        col("c"), date_add(col("d"), 2).as("d"))
    val tagged = base.unionByName(planted)
      .withColumn("ts", col("d").cast("timestamp"))
    graft.streaming.EventStream.dupPaymentStream(tagged,
        "o_custkey", "okey", "c", "ts", windowUs = 30L * 86400L * 1000000L)
      .toDF()
      .orderBy("cust", "cents", "key_dup")
  }

  /** D26 (r14): streaming order reconciliation
   * ([[graft.streaming.EventStream.reconcileStream]]) — B115's
   * close-of-books audit run online: headers and line items
   * interleaved on one stream, each order's verdict emitted when its
   * event-time horizon closes. Per-order state is four longs (sums
   * commute — arrival order across micro-batches is irrelevant), so
   * the batch twin here is exactly the B115 per-order relation; the
   * query closes with a one-row rollup the oracle recomputes from
   * scratch. */
  private def qReconcileLive(s: SparkSession, dir: String): DataFrame = {
    val headers = t(s, dir, "orders").select(
      col("o_orderkey").as("okey"), lit("H").as("kind"),
      cents(col("o_totalprice")).as("cents"),
      col("o_orderdate").cast("timestamp").as("ts"))
    val lines = t(s, dir, "lineitem").select(
      col("l_orderkey").as("okey"), lit("L").as("kind"),
      expr("""(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
            * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
            * (100 + CAST(round(l_tax * 100, 0) AS BIGINT))) div 10000""")
        .as("cents"),
      col("l_shipdate").cast("timestamp").as("ts"))
    graft.streaming.EventStream.reconcileStream(
        headers.unionByName(lines), "okey", "kind", "cents", "ts",
        horizonUs = 365L * 86400L * 1000000L)
      .toDF()
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("abs_diff") === 0L, 1L).otherwise(0L)).as("n_exact"),
        sum("abs_diff").as("sum_abs_diff"), max("abs_diff").as("max_abs_diff"),
        sum(when(col("header_cents").isNull, 1L).otherwise(0L))
          .as("n_headerless"))
  }

  /** D25 (r14): live peak-concurrency gauge
   * ([[graft.streaming.EventStream.concurrencyStream]]) — the
   * streaming twin of the B63 batch sweep: per-hour peak open
   * sessions, emitted as each hour's watermark closes. The batch
   * sweep's carry-in chain is unusable online, so the stream clips
   * every interval into self-contained per-bucket pieces (each piece
   * opens AND closes inside its bucket; boundary −1s belong to the
   * bucket they close; −1 before +1 at equal instants) — levels
   * identical to the batch sweep at every instant, per-bucket state
   * bounded by the bucket's own traffic. Batch mode = the exact
   * relation; the oracle replays the piece decomposition
   * independently in SQL. */
  private def qConcurrencyLive(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val ev = withEventTime(t(s, dir, "events")).select(col("ts"))
    graft.streaming.EventStream.concurrencyStream(ev, "ts", hourUs, hourUs)
      .toDF()
      .select(col("bucket").as("hour_idx"), col("peak"), col("n_pieces"))
      .orderBy("hour_idx")
  }

  /** D24 (r14): streaming as-of enrichment
   * ([[graft.streaming.EventStream.asofEnrichStream]]) — every purchase
   * stamped with the user's latest PRIOR view (time + cents); batch
   * mode = the exact batch as-of relation. */
  private def qStreamAsof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = withEventTime(t(s, dir, "events"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"))
      .as[graft.streaming.Event]
    graft.streaming.EventStream.asofEnrichStream(ev)
      .toDF()
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("view_ts_us"), col("view_cents"))
      .orderBy("event_id")
  }

  /** D21 (batch side of the unified API): per-session pattern
   * matching ([[graft.streaming.EventStream.patternSessions]]) —
   * B97's regex applied the way a monitor consumes it: per
   * gap-closed SESSION, emitted at close. Batch mode replays full
   * histories; the oracle rebuilds sessionization (the D2 ms-space
   * replay), the ordered symbol strings, and both regex verdicts. */
  private def qPatternSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = withEventTime(t(s, dir, "events"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"))
      .as[graft.streaming.Event]
    graft.streaming.EventStream.patternSessions(ev, "v[^e]*p")
      .toDF()
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("seq"), col("truncated"), col("matched"), col("n_matches"))
      .orderBy("user_id", "session_start_us")
  }

  /** D8 (batch side of the unified API): windowed approximate
   * distinct — the same `EventStream.approxDistinctStream` plan run
   * in batch (StreamingSpec drives it incrementally and checks
   * cross-micro-batch sketch-merge state). B7's oracle pattern: the
   * HLL value itself has no SQL oracle, so the query joins the exact
   * windowed COUNT(DISTINCT) and emits the deterministic error band,
   * both of which the oracle hash-checks. Unlike B7's 5 large groups,
   * hourly windows have single-digit cardinalities where HLL's ±1 can
   * exceed any relative bound — the band is
   * |approx − exact| ≤ max(1, exact/10) (relative bound + the
   * standard small-count absolute floor), at sketch rsd 0.01 so the
   * 10% band sits 10σ out and small windows resolve exactly in the
   * sparse representation. */
  private def qWindowedApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = withEventTime(t(s, dir, "events"))
    val approx = graft.streaming.EventStream
      .approxDistinctStream(ev, "1 hour", "10 minutes", rsd = 0.01)
    val exact = ev
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(countDistinct("user_id").as("exact_users"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("exact_users"))
    approx.join(exact, Seq("window_start", "event_type"))
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) * 10L <=
          greatest(col("exact_users"), lit(10L))).as("within_band"))
      .orderBy("hour_start", "event_type")
  }

  /** D4 (batch side of the unified API): interval join — the same
   * `EventStream.intervalJoin` operator (purchase ← clicks in the
   * preceding hour) run in batch, where the watermarks are no-ops and
   * the time-range condition plans as an equi join on the key with a
   * range residual; StreamingSpec drives the identical plan
   * incrementally and checks state eviction. */
  private def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = withEventTime(t(s, dir, "events"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
        col("ts").as("c_ts"))
    graft.streaming.EventStream.intervalJoin(purchases, clicks,
        "p_user", "c_user", "p_ts", "c_ts", lookback = "1 hour")
      .select(col("p_id"), col("c_id"))
      .orderBy("p_id", "c_id")
  }

  /** D4 outer mode: the same interval join run left_outer, so
   * purchases with NO click in the preceding hour survive null-padded
   * (the unattributed-purchase rows an attribution pipeline must not
   * silently drop). In batch the outer rows emit directly; under
   * streaming Spark holds them until the watermark proves no match can
   * still arrive (StreamingSpec covers the null-emission timing). */
  private def qIntervalJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val ev = withEventTime(t(s, dir, "events"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
        col("ts").as("c_ts"))
    graft.streaming.EventStream.intervalJoin(purchases, clicks,
        "p_user", "c_user", "p_ts", "c_ts", lookback = "1 hour",
        joinType = "left_outer")
      .select(col("p_id"), col("c_id"))
      .orderBy(col("p_id"), col("c_id").asc_nulls_first)
  }

  /** D3 (batch side of the unified API): streaming exact dedup — the
   * same `EventStream.dedupStream` (dropDuplicatesWithinWatermark)
   * run in batch, where the watermark is a no-op and the state-bounded
   * streaming dedup degenerates to exact distinct. Keys only in the
   * output: the operator keeps ONE arbitrary row per key, so
   * projecting the key set is what is deterministic cross-engine. */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.dedupStream(
        withEventTime(t(s, dir, "events")), Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"))
      .orderBy("user_id", "event_type")

  /** D5 (batch side of the unified API): stream-static enrichment —
   * the same `EventStream.enrichStream` broadcast left join run in
   * batch (events ⋈ customer dimension; unmatched users keep the
   * row, the late-dimension-update guarantee). */
  private def qStreamEnrich(s: SparkSession, dir: String): DataFrame = {
    val ev = withEventTime(t(s, dir, "events"))
      .select(col("event_id"), col("user_id"))
    val dim = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    graft.streaming.EventStream.enrichStream(ev, dim, "user_id", "c_custkey")
      .select(col("event_id"), col("user_id"), col("c_mktsegment"))
      .orderBy("event_id")
  }

  /** D6 (batch side of the unified API): keyed upsert sink — the same
   * [[graft.sinks.TableSink.upsert]] the streaming `upsertSink` calls
   * once per trigger, driven over a deterministic 3-batch delta
   * sequence (batch b carries keys with o_orderkey%4 ∈ {b, 3}, so the
   * %4==3 keys are UPDATED twice and everything else inserts once).
   * The final serving table must equal a MERGE replay: last writer
   * wins per key, no row lost, no row duplicated. The sequence is
   * idempotent, so a bench re-execution over the surviving scratch
   * table converges to the same state. */
  private def qUpsert(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("base_cents"))
    val path = s"${graft.Scratch.root(s)}/upsert_${new java.io.File(dir).getName}"
    for (b <- 0 to 2) {
      val delta = orders
        .filter(col("o_orderkey") % 4 === b || col("o_orderkey") % 4 === 3)
        .select(col("o_orderkey"),
          (col("base_cents") + b).as("upd_cents"),
          lit(b.toLong).as("src_batch"))
      graft.sinks.TableSink.upsert(s, path, delta, Seq("o_orderkey"))
    }
    s.read.parquet(path).orderBy("o_orderkey")
  }

  /** D11 (r13): late-data audit — the batch replay of watermark
   * semantics, as a DEAD-LETTER SPLIT instead of Spark's silent
   * streaming drop: which rows would a 30-minute watermark discard,
   * and by how much did each miss it? Arrival order is modeled as
   * event time plus a deterministic md5-derived ingestion delay of
   * 0–7199 s (the testdata's ingest ids are perfectly time-ordered,
   * so real lateness only appears under transport jitter); the
   * watermark is per-key (user), the Kafka-partition-level shape that
   * scales — a GLOBAL arrival window would funnel every row through
   * one reducer. Window max over preceding arrivals, partitioned by
   * user: one shuffle, bounded frame state. */
  private def qLateEvents(s: SparkSession, dir: String): DataFrame = {
    val allowedUs = 1800L * 1000000L
    val ev = withEventTime(t(s, dir, "events"))
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("arr_us",
        col("ts_us") + expr(
          "conv(substring(md5(cast(event_id as string)), 1, 8), 16, 10)")
          .cast("long") % 7200L * 1000000L)
    val byArrival = Window.partitionBy("user_id").orderBy("arr_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("wm_us", max("ts_us").over(byArrival) - allowedUs)
      .filter(col("wm_us").isNotNull && col("ts_us") < col("wm_us"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        (col("wm_us") - col("ts_us")).as("late_by_us"))
      .orderBy("event_id")
  }

  /** D32 (r17): streaming multimodal ingest router
   * ([[graft.streaming.EventStream.mediaRouteSink]]) — C12d live: two
   * real checkpointed micro-batches of binary payloads are enriched
   * by the header kernel and routed into per-format sink partitions
   * in one partitionBy write each (images to the image pipeline,
   * audio to audio, garbage quarantined as 'unknown' — decided from
   * header bytes before any decoder runs). The query reads the routed
   * store back through partition discovery and must reproduce exactly
   * the batch path's q_media_headers relation — the same independent
   * doc-id arithmetic oracle, now also proving the router dropped,
   * duplicated, and misrouted nothing across the stream. The r18
   * metrics store is read back too: every media row carries its
   * (batch, format) route count from the SIBLING `_metrics` store,
   * each recomputed by the oracle from the batch-split arithmetic —
   * a dropped, doubled, or misattributed metrics row mismatches. */
  private def qStreamMediaRoute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val slice = mediaHeaderCorpus(s, dir)
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    val mid = (slice.head._1 + slice.last._1) / 2
    val b1 = slice.filter(_._1 <= mid).toSeq
    val b2 = slice.filter(_._1 > mid).toSeq
    val base = graft.Scratch.callDir(s, "mroute")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.EventStream.mediaRouteSink(
        in.toDF.toDF("media_id", "p"), "p", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val metrics = s.read.parquet(s"$base/out_metrics")
      .select(col("batch").cast("long").as("batch"),
        col("format").cast("string").as("format"), col("n").as("route_n"))
    s.read.parquet(s"$base/out")
      .select(col("media_id"), col("batch").cast("long").as("batch"),
        col("format").cast("string").as("format"),
        col("width"), col("height"), col("sample_rate"), col("channels"))
      .join(metrics, Seq("batch", "format"))
      .orderBy("media_id")
  }

  /** D7: built-in session-window aggregation (streaming/EventStream
   * .sessionWindowAgg) — gap sessionization as ONE declarative
   * aggregate whose plan runs unchanged in batch and streaming; this
   * batch run is the oracle-checked twin of the StreamingSpec run.
   * Boundary semantics differ from B6's lag-based convention: an
   * event at exactly last+gap starts a NEW session (exclusive window
   * end), so the oracle uses `>=` where q_sessionize uses `>`. */
  private def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream
      .sessionWindowAgg(withEventTime(t(s, dir, "events")))
      .orderBy("user_id", "session_start_us")

  private[graft] val specs: Seq[QuerySpec] = Seq(
    // the slice exactly once, despite the deliberately replayed epoch.
    QuerySpec("q_append_sink", qAppendSink,
      """SELECT o_orderkey AS k,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
         FROM orders WHERE o_orderkey % 41 = 0 ORDER BY k"""),
    // full drift replay: window bucketing, both ppm share relations,
    // the full-outer bucket union, L1/max, smallest-worst tie-break.
    QuerySpec("q_stream_drift", qStreamDrift,
      """WITH e AS (SELECT event_id,
             (epoch_us(ts) // 21600000000) * 21600000000 AS w,
             CAST(round(value * 100, 0) AS BIGINT) // 500 AS bucket
           FROM events),
         h AS (SELECT w, bucket, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
         wt AS (SELECT w, SUM(cnt) AS n_events FROM h GROUP BY 1),
         sh AS (SELECT h.w, h.bucket, h.cnt * 1000000 // wt.n_events AS share
           FROM h JOIN wt ON h.w = wt.w),
         r AS (SELECT bucket, COUNT(*) AS rc FROM e
           WHERE event_id % 2 = 0 GROUP BY 1),
         rt AS (SELECT SUM(rc) AS rtot FROM r),
         rs AS (SELECT bucket, rc * 1000000 // rtot AS rshare FROM r, rt),
         grid AS (SELECT wt.w, rs.bucket, rs.rshare FROM wt, rs),
         fj AS (SELECT COALESCE(sh.w, grid.w) AS w,
             COALESCE(sh.bucket, grid.bucket) AS bucket,
             abs(COALESCE(sh.share, 0) - COALESCE(grid.rshare, 0)) AS drift
           FROM sh FULL JOIN grid
             ON sh.w = grid.w AND sh.bucket = grid.bucket),
         agg AS (SELECT w, SUM(drift) AS l1, MAX(drift) AS mx
           FROM fj GROUP BY 1),
         worst AS (SELECT fj.w, MIN(fj.bucket) AS wb FROM fj
           JOIN agg ON fj.w = agg.w AND fj.drift = agg.mx GROUP BY 1)
         SELECT agg.w AS window_start_us,
           CAST(wt.n_events AS BIGINT) AS n_events,
           CAST(agg.l1 AS BIGINT) AS l1_ppm,
           CAST(agg.mx AS BIGINT) AS max_ppm,
           CAST(worst.wb AS BIGINT) AS worst_bucket
         FROM agg JOIN wt ON agg.w = wt.w JOIN worst ON agg.w = worst.w
         ORDER BY 1"""),
    // prefix-window replay of the exact integer z² inequality over
    // PRIOR events per user in (ts, event_id) order.
    QuerySpec("q_anomaly", qAnomaly,
      """WITH e AS (SELECT user_id, event_id, ts,
             CAST(round(value * 100, 0) AS BIGINT) AS c
           FROM events),
         p AS (SELECT user_id, event_id, c,
             COUNT(*) OVER w AS n_prior,
             COALESCE(SUM(c) OVER w, 0) AS s,
             COALESCE(SUM(c * c) OVER w, 0) AS q
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT user_id, event_id, CAST(c AS BIGINT) AS cents,
           CAST(n_prior AS BIGINT) AS n_prior
         FROM p
         WHERE n_prior >= 10
           AND (n_prior * c - s) * (n_prior * c - s) > 9 * (n_prior * q - s * s)
         ORDER BY user_id, event_id"""),
    QuerySpec("q_hourly_events", qHourlyEvents,
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         event_type, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0, 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"""),
    QuerySpec("q_sliding_window", qSlidingWindow,
      """WITH w AS (SELECT event_type,
           (epoch_us(ts) // 900000000 - i) * 900000000 AS win_start_us
           FROM events, UNNEST(range(0, 4)) AS u(i))
         SELECT win_start_us, event_type, CAST(COUNT(*) AS BIGINT) AS n
         FROM w GROUP BY 1, 2 ORDER BY win_start_us, event_type"""),
    QuerySpec("q_stream_topk", qStreamTopk,
      """WITH c AS (SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type AS item, CAST(COUNT(*) AS BIGINT) AS mg_count
           FROM events GROUP BY 1, 2)
         SELECT window_start_us, item, mg_count,
           CAST(SUM(mg_count) OVER (PARTITION BY window_start_us) AS BIGINT) AS n_window
         FROM c ORDER BY window_start_us, item"""),
    QuerySpec("q_stream_topk_weighted", qStreamTopkWeighted,
      """WITH c AS (SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type AS item, CAST(COUNT(*) AS BIGINT) AS mg_count
           FROM events GROUP BY 1, 2)
         SELECT window_start_us, item, mg_count,
           CAST(SUM(mg_count) OVER (PARTITION BY window_start_us) AS BIGINT) AS n_window
         FROM c ORDER BY window_start_us, item"""),
    QuerySpec("q_stream_quantile", qStreamQuantile,
      """WITH e AS (SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
           CAST(round(value * 100, 0) AS BIGINT) // 100 AS bucket
           FROM events),
         h AS (SELECT window_start_us, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM e GROUP BY 1, 2),
         c AS (SELECT *,
             SUM(cnt) OVER (PARTITION BY window_start_us ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY window_start_us) AS total FROM h),
         f AS (SELECT window_start_us, q_ppm, MIN(bucket) AS qb
           FROM c, (VALUES (500000), (900000), (990000)) AS q(q_ppm)
           WHERE cum * 1000000 >= total * q_ppm GROUP BY 1, 2)
         SELECT window_start_us, CAST(q_ppm AS BIGINT) AS q_ppm,
           CAST((qb + 1) * 100 AS BIGINT) AS value_cents_ub
         FROM f ORDER BY 1, 2"""),
    // ms-space replay of the stateful sessionizer's batch twin: the
    // state function keys on Timestamp.getTime (millis, µs truncated),
    // so the lag/cumsum runs on epoch_us // 1000; cents sums are
    // integer-exact in any order
    QuerySpec("q_stream_sessionize", qStreamSessionize,
      """WITH e AS (SELECT user_id, event_id,
           CAST(round(value * 100, 0) AS BIGINT) AS cents,
           epoch_us(ts) // 1000 AS ts_ms FROM events),
         lagged AS (SELECT *, LAG(ts_ms) OVER
             (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ms FROM e),
         flagged AS (SELECT *, CASE WHEN prev_ms IS NULL
             OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_sess FROM lagged),
         sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
             ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM flagged)
         SELECT user_id, CAST(MIN(ts_ms) * 1000 AS BIGINT) AS session_start_us,
           CAST(MAX(ts_ms) * 1000 AS BIGINT) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start_us"""),
    // bounded invariant (the ANN recall-gate pattern): every probe
    // answered through the REAL streaming sink with exactly k rows,
    // byte-equal to the direct indexed query
    QuerySpec("q_vector_search_sink", qVectorSearchSink,
      """SELECT CAST(vec_id AS BIGINT) AS probe_id, CAST(5 AS BIGINT) AS k_rows,
         true AS sink_matches_direct
         FROM embeddings WHERE vec_id < 3 ORDER BY probe_id"""),
    QuerySpec("q_stream_ann_delete", qStreamAnnDelete,
      """SELECT CAST(vec_id AS BIGINT) AS probe_id, TRUE AS pre_delete_served,
         TRUE AS deleted_excluded, TRUE AS matches_direct
         FROM embeddings WHERE vec_id < 3 ORDER BY probe_id"""),
    // end-state replay of the two-batch streamed changelog: batch 1
    // upserts the slice, batch 2 bumps even keys by 7 and deletes odd
    // multiples of 3 (a key matching both rules is even -> updated)
    QuerySpec("q_cdc_sink", qCdcSink,
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
           CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
             + CASE WHEN o_orderkey % 2 = 0 THEN 7 ELSE 0 END AS BIGINT) AS v
         FROM orders
         WHERE o_orderkey % 37 = 0
           AND NOT (o_orderkey % 2 = 1 AND o_orderkey % 3 = 0)
         ORDER BY k"""),
    // D28: the streamed LWW end state + version count replayed.
    QuerySpec("q_stream_snapshot_publish", qStreamSnapshotPublish,
      """SELECT o_orderkey AS k,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
             + CASE WHEN o_orderkey % 2 = 0 THEN 7 ELSE 0 END AS v,
           CAST(2 AS BIGINT) AS n_versions
         FROM orders WHERE o_orderkey % 37 = 0 ORDER BY k"""),
    // D29: the branch-staged stream's LWW end state as served by prod
    // AFTER the A36 merge, plus the pinned version lineage (prod held
    // at v1 through both micro-batches; v1 + 2 stream + 1 merge = 4).
    QuerySpec("q_stream_branch_publish", qStreamBranchPublish,
      """SELECT o_orderkey AS k,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
             + CASE WHEN o_orderkey % 2 = 0 THEN 7 ELSE 0 END AS v,
           CAST(1 AS BIGINT) AS prod_before,
           CAST(4 AS BIGINT) AS n_versions
         FROM orders WHERE o_orderkey % 37 = 0 ORDER BY k"""),
    // D30: both quality kernels and the gate replayed over the same
    // planted corpus — classifier score via the mod-2^64 token CTEs,
    // repetition ppm via the whitespace-gram CTEs (renamed to avoid
    // colliding with the token block's names).
    QuerySpec("q_stream_quality_gate", qStreamQualityGate,
      ("""WITH raw AS MATERIALIZED (SELECT doc_id,
           CASE WHEN doc_id % 9 = 0 THEN text || repeat(' buy cheap now', 12)
             ELSE text END AS rtext FROM documents),
         reps AS MATERIALIZED (SELECT doc_id AS rep_id, rtext AS text FROM raw),
         """ + sqlTokenCtes + """
         occ AS MATERIALIZED (SELECT t.rep_id,
             CAST(CAST(d.th AS UBIGINT) % 65536 AS HUGEINT) AS b
           FROM tocc t JOIN dh d USING (tok)),
         bk AS (SELECT DISTINCT b FROM occ),
         bm AS MATERIALIZED (SELECT b, """ +
        sqlMixCols(sqlXor64("b", "1442695040888963407"), "m") + """
           FROM bk),
         bw AS (SELECT b, CAST(mo % 2001 - 1000 AS BIGINT) AS w FROM bm),
         sc AS (SELECT r.rep_id AS doc_id, CAST(COALESCE(SUM(x.w), 0) AS BIGINT) AS score
           FROM reps r LEFT JOIN (SELECT o.rep_id, bw.w FROM occ o JOIN bw USING (b)) x
             ON r.rep_id = x.rep_id GROUP BY 1),
         wt AS MATERIALIZED (SELECT doc_id, length(rtext) AS nc,
           list_filter(string_split_regex(rtext, '[ \t\n\r]+'), s -> s <> '') AS ts
           FROM raw),
         wg AS (SELECT doc_id, nc,
             array_to_string(list_slice(ts, CAST(u.i AS INT), CAST(u.i AS INT) + 1), ' ') AS gram
           FROM wt, UNNEST(range(1, len(ts))) AS u(i)),
         wc AS (SELECT doc_id, nc, gram, COUNT(*) AS c FROM wg GROUP BY 1, 2, 3),
         wb AS (SELECT doc_id, CAST(c * length(gram) * 1000000 // nc AS BIGINT) AS ppm FROM wc
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) = 1)
         SELECT r.doc_id, sc.score, COALESCE(wb.ppm, 0) AS top2_ppm,
           (sc.score >= 0 AND COALESCE(wb.ppm, 0) <= 200000) AS accepted
         FROM raw r JOIN sc USING (doc_id) LEFT JOIN wb USING (doc_id)
         ORDER BY r.doc_id""")),
    // D31: the streamed verdict union must equal one full-batch
    // keep-first run over all docs (the C37 increment≡full-run
    // contract) — the C2 string-space keep-table SQL verbatim, under
    // the same LSH-recall hedge.
    QuerySpec("q_stream_neardup_gate", qStreamNeardupGate,
      """WITH keyed AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
         reps AS (SELECT text, MIN(doc_id) AS rep_id FROM keyed GROUP BY text),
         toks AS (SELECT rep_id,
           list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
           FROM reps),
         g AS (SELECT rep_id, list(DISTINCT array_to_string(ts[i : i + 2], ' ')) AS sh
               FROM toks, UNNEST(range(1, len(ts) - 1)) AS u(i) GROUP BY rep_id),
         dead AS (SELECT b.rep_id AS dead_rep, CAST(COUNT(*) AS BIGINT) AS n_near
               FROM g a JOIN g b ON a.rep_id < b.rep_id
               AND len(list_intersect(a.sh, b.sh)) * 1.0 /
                   len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
               GROUP BY 1)
         SELECT k.doc_id,
           (k.doc_id = r.rep_id AND d.n_near IS NULL) AS keep
         FROM keyed k JOIN reps r ON k.text = r.text
         LEFT JOIN dead d ON r.rep_id = d.dead_rep
         ORDER BY doc_id"""),
    // the A18 LWW end state over the slice, reached through the REAL
    // streaming sink with batches out of order across micro-batches
    QuerySpec("q_upsert_versioned_stream", qUpsertVersionedStream,
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
           CAST(CASE WHEN o_orderkey % 3 = 0
             THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
             ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) + 5 END AS BIGINT) AS v,
           CAST(CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ver
         FROM orders WHERE o_orderkey % 37 = 0 ORDER BY k"""),
    // the batch -> dim-version mapping is deterministic by
    // construction (even keys enriched before the flip, odd after).
    QuerySpec("q_snapshot_enrich_stream", qSnapshotEnrichStream,
      """SELECT c_custkey, c_nationkey,
           CASE WHEN c_custkey % 2 = 0 THEN n_name
                ELSE n_name || '#2' END AS n_name,
           CAST(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 2 END AS BIGINT)
             AS dim_version
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_custkey % 53 = 0
         ORDER BY c_custkey"""),
    // exact NOT EXISTS over the same one-hour follow-up window.
    QuerySpec("q_interval_anti", qIntervalAnti,
      """SELECT c.event_id AS click_id, c.user_id
         FROM events c
         WHERE c.event_type = 'click' AND NOT EXISTS (
           SELECT 1 FROM events p
           WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
         ORDER BY click_id"""),
    // B94's closed form replayed PER MOVEMENT: the online state
    // machine must agree with the prefix-min identity on every row.
    QuerySpec("q_clamped_balance_stream", qClampedBalanceStream,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(round(value * 100, 0) AS BIGINT)
                  ELSE -CAST(round(value * 100, 0) AS BIGINT) END AS d
           FROM events
           WHERE event_type IN ('purchase', 'signup', 'view', 'error')),
         p AS (SELECT user_id, event_id, ts_us, d,
             SUM(d) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
           FROM e),
         m AS (SELECT user_id, event_id, pre,
             MIN(pre) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
           FROM p)
         SELECT user_id, event_id,
           CAST(pre + GREATEST(0, -rm) AS BIGINT) AS balance_cents,
           CAST(GREATEST(0, -rm) AS BIGINT) AS rejected_cents
         FROM m ORDER BY event_id"""),
    // the batch twin of the online rate cap: arrival ordinal within
    // each (user, hour) slot = row_number over event time.
    QuerySpec("q_rate_cap", qRateCap,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         w AS (SELECT user_id, event_id, ts_us,
             ts_us // 3600000000 * 3600000000 AS win_start_us FROM e),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, win_start_us
             ORDER BY ts_us, event_id) AS rn FROM w)
         SELECT user_id, event_id, win_start_us,
           CAST(rn AS BIGINT) AS seq_in_window, rn <= 3 AS admitted
         FROM r ORDER BY event_id"""),
    // the same first-qualifying-stage CTEs as q_funnel_windowed,
    // emitted per user — the state machine must agree row-for-row.
    QuerySpec("q_funnel_live", qFunnelLive,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
           FROM events),
         v AS (SELECT user_id, MIN(ts_us) AS vt FROM e
           WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, MIN(ts_us) AS ct FROM e JOIN v USING (user_id)
           WHERE event_type = 'click' AND ts_us > vt
             AND ts_us <= vt + 3600000000 GROUP BY 1),
         p AS (SELECT e.user_id, MIN(ts_us) AS pt FROM e JOIN c USING (user_id)
           WHERE event_type = 'purchase' AND ts_us > ct
             AND ts_us <= ct + 86400000000 GROUP BY 1)
         SELECT user_id,
           CAST(CASE WHEN pt IS NOT NULL THEN 2
                     WHEN ct IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
           vt AS vt_us, ct AS ct_us, pt AS pt_us
         FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
         ORDER BY user_id"""),
    // the per-(customer, cents) LAG relation over the same planted
    // duplicates — each payment pairs with its latest prior in-window.
    QuerySpec("q_dup_alarm", qDupAlarm,
      """WITH base AS (SELECT CAST(o_orderkey AS BIGINT) AS okey, o_custkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c,
             CAST(o_orderdate AS DATE) AS d
           FROM orders),
         o AS (SELECT * FROM base
           UNION ALL
           SELECT okey + 10000000, o_custkey, c, d + 2
           FROM base WHERE okey % 100 = 0),
         l AS (SELECT o_custkey, c, okey, d,
             lag(okey) OVER (PARTITION BY o_custkey, c ORDER BY d, okey) AS pk,
             lag(d) OVER (PARTITION BY o_custkey, c ORDER BY d, okey) AS pd
           FROM o)
         SELECT o_custkey AS cust, c AS cents, pk AS key_prior,
           okey AS key_dup,
           CAST(date_diff('day', pd, d) AS BIGINT) AS day_gap
         FROM l WHERE pk IS NOT NULL AND date_diff('day', pd, d) <= 30
         ORDER BY cust, cents, key_dup"""),
    // B115's per-order audit replayed from scratch, then the one-row
    // rollup; every order has exactly one header so n_headerless = 0.
    QuerySpec("q_reconcile_live", qReconcileLive,
      """WITH lv AS (SELECT l_orderkey,
             (CAST(round(CAST(l_extendedprice AS DOUBLE) * 100, 0) AS BIGINT)
              * (100 - CAST(round(CAST(l_discount AS DOUBLE) * 100, 0) AS BIGINT))
              * (100 + CAST(round(CAST(l_tax AS DOUBLE) * 100, 0) AS BIGINT)))
              // 10000 AS lc
           FROM lineitem),
         agg AS (SELECT l_orderkey, SUM(lc) AS lines_cents FROM lv GROUP BY 1),
         j AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS tc,
             COALESCE(lines_cents, 0) AS lines_cents
           FROM orders LEFT JOIN agg ON o_orderkey = l_orderkey)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN tc = lines_cents THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(SUM(abs(tc - lines_cents)) AS BIGINT) AS sum_abs_diff,
           CAST(MAX(abs(tc - lines_cents)) AS BIGINT) AS max_abs_diff,
           CAST(0 AS BIGINT) AS n_headerless
         FROM j"""),
    // GLOBAL running sum over all endpoint deltas (the sequential
    // textbook sweep), per-hour max — equality proves the Spark
    // side's segmented two-level prefix sum decomposes it exactly.
    // the self-contained piece decomposition replayed: intervals
    // clipped per bucket, −1 before +1 at equal instants, per-bucket
    // max prefix from level 0.
    QuerySpec("q_concurrency_live", qConcurrencyLive,
      """WITH e AS (SELECT epoch_us(ts) AS s, epoch_us(ts) + 3600000000 AS e
           FROM events),
         bks AS (SELECT s, e, u.b AS b
           FROM e, UNNEST(range(s // 3600000000, (e - 1) // 3600000000 + 1))
             AS u(b)),
         p AS (SELECT b, GREATEST(s, b * 3600000000) AS ps,
             LEAST(e, (b + 1) * 3600000000) AS pe FROM bks),
         d AS (SELECT b, ps AS t, 1 AS dd FROM p
               UNION ALL SELECT b, pe, -1 FROM p),
         r AS (SELECT b, t, dd, SUM(dd) OVER (PARTITION BY b ORDER BY t, dd
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
           FROM d)
         SELECT b AS hour_idx, CAST(MAX(rs) AS BIGINT) AS peak,
           CAST(COUNT(*) // 2 AS BIGINT) AS n_pieces
         FROM r GROUP BY 1 ORDER BY 1"""),
    // the state machine's (ts, event_id) total order replayed as a
    // last-non-null window: latest prior view per purchase, ties
    // broken by event_id on both sides.
    QuerySpec("q_stream_asof", qStreamAsof,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             event_type,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS cents
           FROM events WHERE event_type IN ('view', 'purchase')),
         w AS (SELECT *,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN ts_us END
               IGNORE NULLS) OVER win AS view_ts_us,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN cents END
               IGNORE NULLS) OVER win AS view_cents
           FROM e
           WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT user_id, event_id, ts_us, view_ts_us, view_cents
         FROM w WHERE event_type = 'purchase' ORDER BY event_id"""),
    // D2's ms-space sessionization replay + ordered string_agg + the
    // same regex find / non-overlapping count.
    QuerySpec("q_pattern_sessions", qPatternSessions,
      """WITH e AS (SELECT user_id, event_id, substr(event_type, 1, 1) AS sym,
             epoch_us(ts) // 1000 AS ts_ms FROM events),
         lagged AS (SELECT *, LAG(ts_ms) OVER
             (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ms FROM e),
         flagged AS (SELECT *, CASE WHEN prev_ms IS NULL
             OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_sess
           FROM lagged),
         sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
             ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged),
         g AS (SELECT user_id, sid,
             CAST(MIN(ts_ms) * 1000 AS BIGINT) AS session_start_us,
             CAST(MAX(ts_ms) * 1000 AS BIGINT) AS session_end_us,
             string_agg(sym, '' ORDER BY ts_ms, event_id) AS seq
           FROM sess GROUP BY 1, 2)
         SELECT user_id, session_start_us, session_end_us, seq,
           FALSE AS truncated,
           regexp_matches(seq, 'v[^e]*p') AS matched,
           CAST(len(regexp_extract_all(seq, 'v[^e]*p')) AS BIGINT) AS n_matches
         FROM g ORDER BY user_id, session_start_us"""),
    QuerySpec("q_windowed_approx_distinct", qWindowedApproxDistinct,
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
         true AS within_band
         FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"""),
    QuerySpec("q_interval_join", qIntervalJoin,
      """WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events
                    WHERE event_type = 'purchase'),
            c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM events
                    WHERE event_type = 'click')
         SELECT p.p_id, c.c_id FROM p JOIN c ON p.user_id = c.user_id
           AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts
         ORDER BY p_id, c_id"""),
    QuerySpec("q_interval_join_outer", qIntervalJoinOuter,
      """WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events
                    WHERE event_type = 'purchase'),
            c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM events
                    WHERE event_type = 'click')
         SELECT p.p_id, c.c_id FROM p LEFT JOIN c ON p.user_id = c.user_id
           AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts
         ORDER BY p_id, c_id NULLS FIRST"""),
    QuerySpec("q_stream_dedup", qStreamDedup,
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type"""),
    QuerySpec("q_stream_enrich", qStreamEnrich,
      """SELECT e.event_id, e.user_id, c.c_mktsegment
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         ORDER BY e.event_id"""),
    // MERGE replay: batch b carries keys o_orderkey%4 IN (b, 3); last
    // writer wins per key = the max-batch row for that key.
    QuerySpec("q_upsert", qUpsert,
      """WITH d AS (SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS base_cents,
             o_orderkey % 4 AS r
           FROM orders),
         batches AS (
           SELECT 0 AS b, o_orderkey, base_cents FROM d WHERE r IN (0, 3)
           UNION ALL SELECT 1, o_orderkey, base_cents FROM d WHERE r IN (1, 3)
           UNION ALL SELECT 2, o_orderkey, base_cents FROM d WHERE r IN (2, 3)),
         last AS (SELECT o_orderkey, MAX(b) AS b FROM batches GROUP BY o_orderkey)
         SELECT t.o_orderkey, t.base_cents + t.b AS upd_cents,
           CAST(t.b AS BIGINT) AS src_batch
         FROM batches t JOIN last l ON t.o_orderkey = l.o_orderkey AND t.b = l.b
         ORDER BY t.o_orderkey"""),
    QuerySpec("q_late_events", qLateEvents,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             epoch_us(ts) + CAST(concat('0x',
               substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 7200 * 1000000 AS arr_us
           FROM events),
         w AS (SELECT *, MAX(ts_us) OVER
             (PARTITION BY user_id ORDER BY arr_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             - 1800000000 AS wm_us FROM e)
         SELECT event_id, user_id, ts_us, wm_us - ts_us AS late_by_us
         FROM w WHERE wm_us IS NOT NULL AND ts_us < wm_us
         ORDER BY event_id"""),
    // D32: the routed store read back must equal the batch header
    // relation — same independent arithmetic as q_media_headers; any
    // drop/duplicate/misroute across the two micro-batches mismatches,
    // and (r18) each row's (batch, format) route count from the
    // sibling metrics store is recomputed from the batch-split
    // arithmetic (batch 0 = media_id <= (min+max)/2).
    QuerySpec("q_stream_media_route", qStreamMediaRoute,
      """WITH m AS (SELECT doc_id AS media_id,
           CASE WHEN doc_id <= (SELECT (MIN(doc_id) + MAX(doc_id)) // 2
             FROM documents) THEN 0 ELSE 1 END AS batch,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
             WHEN 2 THEN 'jpeg' ELSE 'unknown' END AS format,
           CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id % 640 + 32
             WHEN doc_id % 4 = 2 THEN doc_id % 512 + 16 ELSE 0 END AS BIGINT) AS width,
           CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id % 480 + 32
             WHEN doc_id % 4 = 2 THEN doc_id % 384 + 16 ELSE 0 END AS BIGINT) AS height,
           CAST(CASE WHEN doc_id % 4 = 1 THEN doc_id % 8 * 1000 + 8000
             ELSE 0 END AS BIGINT) AS sample_rate,
           CAST(CASE WHEN doc_id % 4 = 1 THEN doc_id % 2 + 1
             ELSE 0 END AS BIGINT) AS channels
         FROM documents),
         cnt AS (SELECT batch, format, CAST(COUNT(*) AS BIGINT) AS route_n
           FROM m GROUP BY 1, 2)
         SELECT CAST(m.batch AS BIGINT) AS batch, m.format, media_id,
           width, height, sample_rate, channels, route_n
         FROM m JOIN cnt USING (batch, format) ORDER BY media_id"""),
    // session_window's exclusive end: an event at exactly last+gap
    // starts a NEW session, hence >= (vs q_sessionize's >).
    QuerySpec("q_session_window", qSessionWindow,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         x AS (SELECT user_id, event_id, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         s AS (SELECT user_id, ts_us,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM x)
         SELECT user_id, MIN(ts_us) AS session_start_us,
           MAX(ts_us) + 1800000000 AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us"""),
  )
}
