package graft

import graft.functions.HashOps
import graft.text.{InvertedIndex, SegmentDedup}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class SegmentIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def chunks(s: String, k: Int): Seq[String] =
    HashOps.wordChunksStrided(UTF8String.fromString(s), k, k).toSeq.map(_.toString)

  test("wordChunks splits non-overlapping with short tail, whitespace-robust") {
    assert(chunks("a b c d e", 2) == Seq("a b", "c d", "e"))
    assert(chunks("a b c d", 2) == Seq("a b", "c d"))
    assert(chunks("  a \t b\nc  ", 2) == Seq("a b", "c"))
    assert(chunks("one", 8) == Seq("one"))
    assert(chunks("", 4) == Seq.empty)
    assert(chunks("   ", 4) == Seq.empty)
  }

  private def strided(s: String, w: Int, st: Int): Seq[String] =
    HashOps.wordChunksStrided(UTF8String.fromString(s), w, st).toSeq.map(_.toString)

  test("wordChunksStrided overlaps by window minus stride, tail included") {
    // window 4, stride 2 over 7 tokens: starts at 0, 2, 4, 6
    assert(strided("a b c d e f g", 4, 2) ==
      Seq("a b c d", "c d e f", "e f g", "g"))
    assert(strided("  a \t b\nc  ", 2, 1) == Seq("a b", "b c", "c"))
    assert(strided("one", 8, 4) == Seq("one"))
    assert(strided("", 4, 2) == Seq.empty)
  }

  test("cleanChunks cuts exactly the cross-document segments, keeps order") {
    // chunk size 2: doc 1 = [shared seg] [u1 a] [u1 b]; doc 2 = [shared seg] [u2 a]
    // doc 3 has no overlap; doc 4 repeats a chunk only WITHIN itself (not cut)
    val docs = Seq(
      (1L, "shared seg u1 a u1 b"),
      (2L, "shared seg u2 a"),
      (3L, "solo only text here"),
      (4L, "rep rep rep rep"),
      (5L, "")).toDF("doc_id", "text")
    val got = SegmentDedup.cleanChunks(docs, "doc_id", "text", chunkWords = 2, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "u1 a u1 b", 3L, 1L),
      (2L, "u2 a", 2L, 1L),
      (3L, "solo only text here", 2L, 0L),
      (4L, "rep rep rep rep", 2L, 0L),
      (5L, "", 0L, 0L)))
  }

  test("cleanChunks empties a fully-duplicated document but keeps the row") {
    val docs = Seq(
      (1L, "dup one dup two"),
      (2L, "dup one dup two"),
      (3L, "other stuff")).toDF("doc_id", "text")
    val got = SegmentDedup.cleanChunks(docs, "doc_id", "text", chunkWords = 2, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "", 2L, 2L),
      (2L, "", 2L, 2L),
      (3L, "other stuff", 1L, 0L)))
  }

  test("stripFrequent cuts group-relative boilerplate, not cross-group or rare chunks") {
    // group A: 4 of 5 docs open with the same header chunk (80% ≥ 60%,
    // ≥3 docs → boilerplate); group B has the SAME header in 1 of 4
    // docs (25% < 60% → kept). A's "a4 tail" appears in 2 docs = 40%
    // AND under the minDocs=3 floor → kept.
    val docs = Seq(
      (1L, "A", "site header a1 body"),
      (2L, "A", "site header a2 body"),
      (3L, "A", "site header a3 body a4 tail"),
      (4L, "A", "site header a4 tail"),
      (5L, "A", "clean doc"),
      (6L, "B", "site header b1 body"),
      (7L, "B", "b2 only"),
      (8L, "B", "b3 only"),
      (9L, "B", "b4 only"),
      (10L, "B", "")).toDF("doc_id", "grp", "text")
    val got = graft.text.Boilerplate
      .stripFrequent(docs, "doc_id", "text", "grp",
        chunkWords = 2, minFrac = 0.6, minDocs = 3)
      .orderBy("doc_id")
      .as[(Long, String, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "A", "a1 body", 2L, 1L),
      (2L, "A", "a2 body", 2L, 1L),
      (3L, "A", "a3 body a4 tail", 3L, 1L),
      (4L, "A", "a4 tail", 2L, 1L),
      (5L, "A", "clean doc", 1L, 0L),
      (6L, "B", "site header b1 body", 2L, 0L),
      (7L, "B", "b2 only", 1L, 0L),
      (8L, "B", "b3 only", 1L, 0L),
      (9L, "B", "b4 only", 1L, 0L),
      (10L, "B", "", 0L, 0L)))
  }

  test("stripFrequent minDocs floor protects tiny groups") {
    // 2-doc group sharing everything: 100% frequency but under the
    // ≥3-doc floor — nothing cut (a 2-doc site is dedup's job, C27)
    val docs = Seq(
      (1L, "g", "same text"),
      (2L, "g", "same text")).toDF("doc_id", "grp", "text")
    val got = graft.text.Boilerplate
      .stripFrequent(docs, "doc_id", "text", "grp",
        chunkWords = 2, minFrac = 0.5, minDocs = 3)
      .orderBy("doc_id").as[(Long, String, String, Long, Long)].collect().toSeq
    assert(got == Seq((1L, "g", "same text", 1L, 0L), (2L, "g", "same text", 1L, 0L)))
  }

  test("inverted index postings are per-term sorted doc lists; df bounds prune") {
    val docs = Seq(
      (3L, "b a b"), // 'b' twice in one doc counts once
      (1L, "a c"),
      (2L, "a")).toDF("doc_id", "text")
    val idx = InvertedIndex.build(docs, "doc_id", "text")
      .orderBy("term").as[(String, Long, Seq[Long])].collect().toSeq
    assert(idx == Seq(
      ("a", 3L, Seq(1L, 2L, 3L)),
      ("b", 1L, Seq(3L)),
      ("c", 1L, Seq(1L))))
    val bounded = InvertedIndex.build(docs, "doc_id", "text", minDf = 2, maxDf = 0)
      .select("term").as[String].collect().toSeq
    assert(bounded == Seq("a"))
  }

  test("written index is bucketed by term: term-keyed self-lookup joins exchange-free") {
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS inv_idx_test")
    val d = new java.io.File("target/inverted_index/inv_idx_test")
    if (d.exists()) { def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit }; rm(d) }
    val docs = Seq((1L, "x y"), (2L, "x z"), (3L, "y")).toDF("doc_id", "text")
    InvertedIndex.write(InvertedIndex.build(docs, "doc_id", "text"), "inv_idx_test", buckets = 4)
    val idx = spark.table("inv_idx_test")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // a term-keyed join against another bucketed copy of the index
      // must not shuffle the index side (the recurring-lookup shape)
      val joined = idx.join(idx.select(col("term"), col("df").as("df2")), "term")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed index join should not shuffle:\n$plan")
      assert(joined.count() == 3)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // content survives the bucketed round trip
    assert(idx.orderBy("term").as[(String, Long, Seq[Long])].collect().toSeq ==
      Seq(("x", 2L, Seq(1L, 2L)), ("y", 2L, Seq(1L, 3L)), ("z", 1L, Seq(2L))))
  }

  test("lookupAll returns docs containing every query term") {
    val docs = Seq(
      (1L, "x y z"),
      (2L, "x y"),
      (3L, "x q x")).toDF("doc_id", "text")
    val idx = InvertedIndex.build(docs, "doc_id", "text")
    val got = InvertedIndex.lookupAll(idx, Seq("x", "y"))
      .orderBy("doc").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L))
    // duplicate query terms must not demand a double count
    val dupTerms = InvertedIndex.lookupAll(idx, Seq("x", "x", "y"))
      .orderBy("doc").as[Long].collect().toSeq
    assert(dupTerms == Seq(1L, 2L))
  }
}
