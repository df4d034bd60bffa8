package graft

import graft.sources.IngestLedger
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once incremental file ingest: arrival processing,
 * idempotent reruns, crash-remnant recovery. */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeArrival(dir: String, name: String, rows: Seq[(Long, String)]): Unit = {
    val f = new java.io.File(dir, name)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f)
    try rows.foreach { case (k, v) => w.println(s"""{"k":$k,"v":"$v"}""") }
    finally w.close()
  }

  private def totals(out: String): (Long, Long) = {
    val df = spark.read.parquet(out + "/part_*")
    (df.count(), df.agg(sum("k")).head().getLong(0))
  }

  test("ingests arrivals once; reruns are no-ops; new files ingest alone") {
    val base = java.nio.file.Files.createTempDirectory("ingest").toString
    val (in, out) = (base + "/in", base + "/out")
    writeArrival(in, "a.json", Seq((1L, "x"), (2L, "y")))
    writeArrival(in, "b.json", Seq((3L, "z")))
    writeArrival(in, "_meta.json", Seq((99L, "skip")))    // hidden: ignored
    writeArrival(in, "c.csv", Seq((98L, "skip")))         // wrong suffix
    assert(IngestLedger.ingestIncremental(spark, in, out, identity,
      suffix = ".json") == 2)
    assert(totals(out) == ((3L, 6L)))
    // rerun: ledgered outputs skip
    assert(IngestLedger.ingestIncremental(spark, in, out, identity,
      suffix = ".json") == 0)
    assert(totals(out) == ((3L, 6L)))
    // a new arrival ingests alone
    writeArrival(in, "d.json", Seq((10L, "w")))
    assert(IngestLedger.ingestIncremental(spark, in, out, identity,
      suffix = ".json") == 1)
    assert(totals(out) == ((4L, 16L)))
  }

  test("crash remnants recover without duplicates") {
    val base = java.nio.file.Files.createTempDirectory("ingest").toString
    val (in, out) = (base + "/in", base + "/out")
    writeArrival(in, "a.json", Seq((1L, "x"), (2L, "y")))
    IngestLedger.ingestIncremental(spark, in, out, identity, suffix = ".json"): Unit
    // the ledger is directory existence, NOT the committer's _SUCCESS
    // marker: with the marker gone the output still counts as ingested
    // (clusters without marksuccessfuljobs must not reprocess per run)
    val outDir = new java.io.File(out).listFiles()
      .find(f => f.getName.startsWith("part_")).get
    assert(new java.io.File(outDir, "_SUCCESS").delete())
    assert(IngestLedger.ingestIncremental(spark, in, out, identity,
      suffix = ".json") == 0)
    assert(totals(out) == ((2L, 3L)))
    // simulate a crash mid-write: only a partial dot-staging dir
    // remains (the only state a crash can leave under rename-publish)
    def deleteTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
      f.delete(): Unit
    }
    new java.io.File(out, "." + outDir.getName + "_tmp").mkdirs()
    deleteTree(outDir)
    // the rerun reprocesses that file; the deterministic name means
    // overwrite, never a duplicate
    assert(IngestLedger.ingestIncremental(spark, in, out, identity,
      suffix = ".json") == 1)
    assert(totals(out) == ((2L, 3L)))
    // a leftover staging dir is invisible to readers and harmless
    new java.io.File(out, ".part_dead_tmp").mkdirs()
    assert(totals(out) == ((2L, 3L)))
  }

  test("a publish crashed mid-swap recovers on rerun: one output per arrival, no residue") {
    val base = java.nio.file.Files.createTempDirectory("ingest").toString
    val (in, out) = (base + "/in", base + "/out")
    writeArrival(in, "a.json", Seq((1L, "x"), (2L, "y")))
    writeArrival(in, "b.json", Seq((3L, "z")))
    assert(IngestLedger.ingestIncremental(spark, in, out, identity,
      suffix = ".json") == 2)
    val parts = new java.io.File(out).list().sorted
    assert(parts.length == 2 && parts.forall(_.startsWith("part_")))
    // the swap moved a's output aside and died before the new one
    // landed: the output is absent, only its `.<out>_bak` remains
    assert(new java.io.File(out, parts(0))
      .renameTo(new java.io.File(out, s".${parts(0)}_bak")))
    assert(IngestLedger.ingestIncremental(spark, in, out, identity,
      suffix = ".json") == 0)
    assert(new java.io.File(out).list().sorted.toSeq == parts.toSeq)
    assert(totals(out) == ((3L, 6L)))
  }

  test("transform runs per file and lands in the output schema") {
    val base = java.nio.file.Files.createTempDirectory("ingest").toString
    val (in, out) = (base + "/in", base + "/out")
    writeArrival(in, "a.json", Seq((5L, "x")))
    IngestLedger.ingestIncremental(spark, in, out,
      df => df.withColumn("k2", col("k") * 2), suffix = ".json"): Unit
    val row = spark.read.parquet(out + "/part_*").select("k", "k2")
      .as[(Long, Long)].head()
    assert(row == ((5L, 10L)))
  }
}
