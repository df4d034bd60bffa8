package graft.sources

import graft.sinks.Commit
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Exactly-once incremental file ingest — the arrival-driven ETL shape
 * the reference's batch loader implies but never hardens (run.sh
 * reloads everything; a daily feed wants "process each arrived file
 * once, survive retries"). No transaction log is needed: the unit of
 * work is ONE INPUT FILE, and its output is a deterministically-named
 * directory under the target (`part_<fnv64(input name)>`), so the
 * OUTPUT LISTING IS THE LEDGER:
 *
 *  - a file whose output directory EXISTS is already ingested —
 *    reruns skip it. Directory existence is the whole ledger: the
 *    published directory only ever appears via a [[Commit]] swap
 *    performed AFTER the write completed, so it cannot be a partial
 *    output (deliberately NOT the committer's `_SUCCESS` marker, which
 *    only exists when `mapreduce.fileoutputcommitter.marksuccessfuljobs`
 *    is on — keying on it would reprocess every arrival per run on
 *    clusters without it);
 *  - each file's output is written to `.<out>_tmp`, moved whole to
 *    `.<out>_ready`, and swapped in with [[Commit.replace]] through
 *    `.<out>_bak` (all dot-prefixed — invisible to readers). A run
 *    first recovers the residue one listing of the target shows: a
 *    `_ready`/`_bak` pair goes through [[Commit.recover]], and a
 *    `_tmp` write, possibly partial, is dropped and reprocessed, so
 *    every arrival ends with exactly one output directory. Renames
 *    are atomic on HDFS and local filesystems; object stores emulate
 *    directory rename as copy+delete, so deploy the target on a
 *    rename-atomic filesystem (the withBuiltIndex publication
 *    caveat) or front publication with a coordination service. One
 *    run per target at a time: recovery takes any residue it finds
 *    for dead;
 *  - reprocessing is IDEMPOTENT by construction: the same input file
 *    always maps to the same output name, so a double-run overwrites
 *    rather than duplicates.
 *
 * Readers see `target/part_*` as one parquet table. Files ingest
 * CONCURRENTLY (bounded driver threads, same argument as
 * compactPartitioned: per-file jobs are scheduling-latency bound).
 * At 100 TB the per-file job reads one arrival (splittable into many
 * tasks if the file is large) and never touches previous output —
 * daily cost tracks the arrival, not the table.
 */
object IngestLedger {

  /**
   * Ingest every not-yet-ingested file under `inputDir` (non-hidden,
   * matching `suffix`) by running `transform` on its rows and writing
   * parquet to `target/part_<fnv64(name)>`. Returns the number of
   * files ingested this run.
   */
  def ingestIncremental(
      spark: SparkSession,
      inputDir: String,
      targetDir: String,
      transform: DataFrame => DataFrame,
      format: String = "json",
      suffix: String = "",
      maxConcurrency: Int = 8): Int = {
    require(maxConcurrency > 0, "maxConcurrency must be positive")
    val inPath = new org.apache.hadoop.fs.Path(inputDir)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(targetDir)
    fs.mkdirs(target)
    def sibling(out: String, role: String) =
      new org.apache.hadoop.fs.Path(target, s".${out}_$role")
    val Residue = """\.(part_[0-9a-f]{16})_(?:tmp|ready|bak)""".r
    fs.listStatus(target).map(_.getPath.getName)
      .collect { case Residue(out) => out }.distinct
      .foreach { out =>
        Commit.recover(fs, new org.apache.hadoop.fs.Path(target, out),
          sibling(out, "ready"), sibling(out, "bak")): Unit
        fs.delete(sibling(out, "tmp"), true): Unit
      }
    val arrivals = fs.listStatus(inPath).filter { e =>
      val n = e.getPath.getName
      e.isFile && !n.startsWith(".") && !n.startsWith("_") && n.endsWith(suffix)
    }.map(_.getPath).sortBy(_.getName)
    def outName(in: org.apache.hadoop.fs.Path): String =
      f"part_${fnv64(in.getName)}%016x"
    // a 64-bit name-hash collision would silently map two arrivals to
    // ONE output slot (second overwrites first) — refuse loudly; the
    // check is a driver-side map over the listing we already hold
    val collided = arrivals.groupBy(outName).collect {
      case (_, vs) if vs.length > 1 => vs.map(_.getName).mkString(" <-> ")
    }
    require(collided.isEmpty,
      s"ingest: output-name hash collision between arrivals: ${collided.mkString("; ")}")
    val pending = arrivals.filter { in =>
      // published-directory existence IS the ledger (class doc): the
      // dir only appears via the post-write rename, never partially
      !fs.exists(new org.apache.hadoop.fs.Path(target, outName(in)))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrency, math.max(1, pending.length)))
    try {
      val futures = pending.map { in =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val out = outName(in)
            val (staging, ready) = (sibling(out, "tmp"), sibling(out, "ready"))
            transform(spark.read.format(format).load(in.toString))
              .write.mode("overwrite").parquet(staging.toString)
            Commit.move(fs, staging, ready)
            Commit.replace(fs, new org.apache.hadoop.fs.Path(target, out), ready,
              sibling(out, "bak"))
          }
        })
      }
      futures.foreach(_.get()) // surface the first per-file failure
    } finally pool.shutdown()
    pending.length
  }

  /** FNV-1a 64-bit over the file NAME (not path): the same logical
   * arrival re-delivered under a different directory still maps to
   * the same output slot. */
  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    for (b <- s.getBytes("UTF-8")) { h ^= (b & 0xffL); h *= 0x100000001b3L }
    h
  }
}
