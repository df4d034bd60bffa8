package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One driver query: its name, the builder that returns its result
 * DataFrame for a scale-factor directory, and the DuckDB SQL the
 * oracle replays over the same tables. [[SparkEntry]] derives
 * `queries` and `oracleSql` from the groups' `specs`. */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** Helpers used by more than one query group; a helper used by a
 * single group lives in that group. */
private[graft] object QuerySupport {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** 2-decimal money/rate column scaled to an exact integer (cents).
   * Summing money in integer space makes aggregates independent of
   * reduction order — a double sum over millions of partitions is not
   * reproducible at the rounding boundary, an integer sum is. */
  private[graft] def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 100, 0).cast("long")

  /** events.ts is TIMESTAMP(NANOS) in parquet; depending on
   * `spark.sql.legacy.parquet.nanosAsLong` it reads as Long (ns) or
   * TimestampType. Normalize to (ts: timestamp, ts_us: long). */
  private[graft] def withEventTime(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.LongType
    if (events.schema("ts").dataType == LongType)
      events
        // integer division — `/` on longs goes through double and loses
        // microsecond precision on epoch-nanosecond magnitudes
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("ts", timestamp_micros(col("ts_us")))
    else
      events
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("ts_us", unix_micros(col("ts")))
  }

  /** Scratch-rooted persisted-index path + complete-build probe
   * (ADVICE r8: CWD-independent, one shutdown hook for the whole
   * scratch root instead of per-call hooks; a configured durable
   * `spark.graft.scratchDir` makes reuse across applications the
   * build-once/query-many serving shape, with staleness-vs-corpus the
   * rebuild cadence the deployment owns). The existence probe goes
   * through the Hadoop FS API so a remote scratch scheme (HDFS/object
   * store) resolves the same way the writes do.
   *
   * Publication protocol (ADVICE r9): the whole `build` closure —
   * including any appendTo* calls — runs against an
   * APPLICATION-UNIQUE staging path; a `_GRAFT_COMPLETE` marker is
   * written inside the staged tree only after the closure returns, and
   * the tree is then published to the shared location with one
   * directory rename. The rename is atomic on HDFS and local file
   * systems ONLY — object stores emulate directory rename as
   * copy+delete, so on those a production deployment should put the
   * scratch root on HDFS/local or front publication with a
   * coordination service. A crash mid-build leaves only an orphaned
   * staging dir (never a half-built index at the published path, which
   * a later application would accept), and two applications racing on
   * a shared durable scratch root resolve by rename: the loser's
   * staging tree is discarded and the winner's published index is
   * served. The stale-remnant delete re-probes the marker immediately
   * before deleting (ADVICE r12): a concurrent application may have
   * published a complete index between the outer probe and the delete,
   * and destroying it would lose a valid index. Re-executions (bench
   * warmup + timed pass) then measure the probe path through the
   * persisted index — rebuilding an unchanged index every execution
   * would time redundant I/O, not the operator. */
  private[graft] def withBuiltIndex(s: SparkSession, dir: String, prefix: String)(
      build: String => Unit): String = {
    import org.apache.hadoop.fs.Path
    val idx = s"${graft.Scratch.root(s)}/${prefix}_${new java.io.File(dir).getName}"
    val target = new Path(idx)
    val fs = target.getFileSystem(s.sparkContext.hadoopConfiguration)
    val complete = new Path(target, "_GRAFT_COMPLETE")
    if (!fs.exists(complete)) {
      // a published dir without the marker is a pre-protocol or
      // crashed-build remnant: rebuild it rather than serve half an
      // index. Re-check the marker IMMEDIATELY before the delete — a
      // concurrent application may have published a complete index
      // since the outer probe, and deleting it would destroy valid
      // work. (A hairline window remains; only a filesystem-level
      // conditional delete could close it entirely.)
      if (fs.exists(target) && !fs.exists(complete))
        fs.delete(target, true): Unit
      if (!fs.exists(complete)) {
        val staging = new Path(s"${idx}__staging_${s.sparkContext.applicationId}")
        if (fs.exists(staging)) fs.delete(staging, true): Unit
        build(staging.toString)
        fs.create(new Path(staging, "_GRAFT_COMPLETE")).close()
        if (!fs.rename(staging, target)) {
          // lost the publish race to a concurrent application
          fs.delete(staging, true): Unit
        }
        // POSIX-style rename NESTS the source when the destination dir
        // already exists (the other way the race can resolve): discard
        // the nested loser tree so it never shadows the winner's layout
        val nested = new Path(target, staging.getName)
        if (fs.exists(nested)) fs.delete(nested, true): Unit
      }
      require(fs.exists(complete),
        s"index publish at $idx left no complete index")
    }
    idx
  }

  /** Deterministic synthetic contact block (email + phone + URL
   * derived from doc_id) appended to each document — the redaction
   * and URL queries need PII-shaped content, and the corpus has none;
   * the construction is mirrored exactly in the oracle SQL. */
  private[graft] def withContact(docs: DataFrame): DataFrame =
    docs.withColumn("raw", concat(
      substring(col("text"), 1, 40),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" via https://site"), pmod(col("doc_id"), lit(50)).cast("string"),
      lit(".example.org/u?id="), col("doc_id").cast("string")))

  /** The C12d/D32 shared corpus: per doc one payload with REAL header
   * bytes built in pure SQL (constructor and parser share no code) —
   * PNG / WAV (planted JUNK chunk every 8th) / JPEG (planted APP1
   * every 8th) / poisoned 'unknown', each with a variable text tail.
   * Emits (media_id, p). */
  private[graft] def mediaHeaderCorpus(s: SparkSession, dir: String): DataFrame = {
    val staged = t(s, dir, "documents")
      .select(col("doc_id").as("media_id"),
        coalesce(col("text"), lit("")).as("txt"))
      .withColumn("w", col("media_id") % 640 + 32)
      .withColumn("h", col("media_id") % 480 + 32)
      .withColumn("rate", col("media_id") % 8 * 1000 + 8000)
      .withColumn("ch", col("media_id") % 2 + 1)
      .withColumn("w2", col("media_id") % 512 + 16)
      .withColumn("h2", col("media_id") % 384 + 16)
      .withColumn("tail", expr("hex(substring(txt, 1, 24))"))
      .withColumn("p", expr("""
        CASE
          WHEN media_id % 4 = 0 THEN unhex(concat(
            '89504E470D0A1A0A0000000D49484452',
            lpad(hex(w), 8, '0'), lpad(hex(h), 8, '0'), '0802000000', tail))
          WHEN media_id % 4 = 1 THEN unhex(concat(
            '524946462400000057415645',
            CASE WHEN media_id % 8 = 1 THEN '4A554E4B0400000000000000' ELSE '' END,
            '666D7420100000000100', lpad(hex(ch), 2, '0'), '00',
            lpad(hex(rate % 256), 2, '0'),
            lpad(hex(rate div 256 % 256), 2, '0'), '0000',
            '0000000000001000', tail))
          WHEN media_id % 4 = 2 THEN unhex(concat(
            'FFD8FFE000104A46494600010100000100010000',
            CASE WHEN media_id % 8 = 6 THEN 'FFE10008457869660000' ELSE '' END,
            'FFC0001108', lpad(hex(h2), 4, '0'), lpad(hex(w2), 4, '0'),
            '03011100021101031101', tail))
          ELSE concat(unhex('00'), cast(txt AS BINARY))
        END"""))
    staged.select("media_id", "p")
  }

  // ------------------------------------------------------------------------
  // DuckDB replay of the engine's 64-bit text-hash pipeline
  // (HashOps.simhashText / wordShingleHashes) for the C3/C33 FULL
  // oracles: ASCII-lowered [a-z0-9_]+ tokens → per-token FNV-1a-64 →
  // (shingles) splitmix64-combined word-3-grams / (simhash) per-bit
  // sign votes. All arithmetic is mod 2^64, bit-exact vs the JVM:
  // xor and >>> run on UBIGINT; each 64×64 multiply runs in HUGEINT
  // with the multiplier split into 32-bit halves (the full 128-bit
  // product would overflow HUGEINT's 2^127−1 cap). Same ASCII-corpus
  // precondition as the C4b string-space oracle: the engine hashes
  // UTF-8 BYTES, the replay hashes codepoints, identical for ASCII
  // (CorpusAssemblySpec pins the non-ASCII edge cases in-JVM).
  // ------------------------------------------------------------------------

  /** `a*b mod 2^64` for a HUGEINT expr `a` in [0,2^64) and a constant
   * unsigned-64 multiplier, split hi/lo so no intermediate exceeds
   * 2^96. */
  private def sqlMulMod64(a: String, b: java.math.BigInteger): String = {
    val hi = b.shiftRight(32); val lo = b.and(java.math.BigInteger.valueOf(0xffffffffL))
    s"((($a) * $lo) % 18446744073709551616 + ((($a) * $hi) % 4294967296) * 4294967296) % 18446744073709551616"
  }

  private def big(hex: String) = new java.math.BigInteger(hex, 16)

  private[graft] def sqlXor64(a: String, b: String): String =
    s"CAST(xor(CAST(($a) AS UBIGINT), CAST(($b) AS UBIGINT)) AS HUGEINT)"

  private def sqlShr64(a: String, k: Int): String =
    s"CAST(CAST(($a) AS UBIGINT) >> $k AS HUGEINT)"

  /** splitmix64 finalizer (HashOps.mix64) as a lateral-alias column
   * chain `p1,p2,p3,po` (po = the mix of `e`) — nesting the three
   * multiply/xor rounds as one expression would duplicate `e`
   * exponentially. */
  private[graft] def sqlMixCols(e: String, p: String): String =
    s"(($e) + 11400714819323198485) % 18446744073709551616 AS ${p}1, " +
      s"${sqlMulMod64(sqlXor64(s"${p}1", sqlShr64(s"${p}1", 30)), big("bf58476d1ce4e5b9"))} AS ${p}2, " +
      s"${sqlMulMod64(sqlXor64(s"${p}2", sqlShr64(s"${p}2", 27)), big("94d049bb133111eb"))} AS ${p}3, " +
      s"${sqlXor64(s"${p}3", sqlShr64(s"${p}3", 31))} AS ${p}o"

  /** FNV-1a-64 of a VARCHAR expr, one codepoint per step (== one byte
   * for ASCII), via list_reduce with the offset basis prepended
   * (DuckDB 1.0 list_reduce has no initial-value form). */
  private def sqlFnv64(t: String): String = {
    val step = sqlMulMod64(sqlXor64("h", "c"), big("100000001b3"))
    s"list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      s"list_transform(range(1, length($t)+1), i -> CAST(ord(substr($t, CAST(i AS INT), 1)) AS HUGEINT))), " +
      s"(h, c) -> ($step))"
  }

  /** CTE block: `reps(rep_id, text)` → `tocc(rep_id, tok, pos)` +
   * `dh(tok, th)` (FNV-1a per DISTINCT token — each token string is
   * hashed once, as the engine's per-row loop is replayed set-wise).
   * Tokenizer = the C4b oracle tokenizer (ASCII lower + split on
   * ASCII non-[a-z0-9_]), byte-for-byte HashOps' inline scanner.
   * MATERIALIZED: DuckDB inlines plain CTEs per reference, which
   * re-runs the whole hash pipeline for every downstream mention. */
  private[graft] val sqlTokenCtes: String =
    """toks AS MATERIALIZED (SELECT rep_id,
           list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
           FROM reps),
         tocc AS MATERIALIZED (SELECT rep_id, ts[CAST(i AS INT)] AS tok, i AS pos
           FROM toks, UNNEST(range(1, len(ts)+1)) AS u(i)),
         dh AS MATERIALIZED (SELECT tok, """ + sqlFnv64("tok") + """ AS th
           FROM (SELECT DISTINCT tok FROM tocc)),"""
}
