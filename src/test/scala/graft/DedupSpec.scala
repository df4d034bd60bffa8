package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "spark scans the parquet files and joins the dimension tables before " +
    "aggregating revenue per nation across all regions in the warehouse"
  private val nearDup = // a few words changed → high word-3-gram overlap
    "spark scans the parquet files and joins the dimension tables before " +
    "aggregating profit per nation across all regions in the warehouse"
  private val unrelated =
    "completely different text about streaming watermarks and stateful " +
    "session windows over late arriving events from mobile clients"

  private lazy val docs = Seq(
    (1L, base), (2L, nearDup), (3L, unrelated), (4L, base)
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps the min id") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 3)
    val copies = out.map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(copies(1L) == 2L) // docs 1 and 4
    assert(copies(2L) == 1L && copies(3L) == 1L)
  }

  test("minhash candidates find planted near-dup and exact dup, not unrelated") {
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) == 1.0)
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.5)
    assert(!pairs.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("minhashKeep keeps first occurrence, drops later near-dups") {
    val keep = Dedup.minhashKeep(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep(1L) && keep(3L))
    assert(!keep(2L) && !keep(4L))
  }

  test("simhash: identical docs at hamming 0, near-dups close, unrelated far") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 4L)) == 0)
    assert(pairs.get((1L, 2L)).exists(_ <= 10))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((3L, 4L)))
  }

  test("containment catches a near-subset doc whose Jaccard is below threshold") {
    // doc 10 is VERBATIM inside doc 11's much longer text: containment
    // of 10 in 11 is ~1.0 while their Jaccard is far below any dedup
    // threshold — the pair Jaccard dedup structurally misses
    val wrapper = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " +
      "eiusmod tempor incididunt ut labore et dolore magna aliqua ") * 3 +
      base +
      (" ut enim ad minim veniam quis nostrud exercitation ullamco laboris " +
        "nisi ut aliquip ex ea commodo consequat duis aute irure") * 3
    val cdocs = Seq((10L, base), (11L, wrapper), (12L, unrelated)).toDF("doc_id", "text")
    val jac = Dedup.ngramJaccard(lit(base), lit(wrapper))
    val j = cdocs.limit(1).select(jac.as("j")).head().getDouble(0)
    assert(j < 0.5, s"fixture broken: wrapper should dilute Jaccard, got $j")
    val pairs = Dedup.containmentPairs(cdocs, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((10L, 11L)) && pairs((10L, 11L)) >= 0.9,
      s"planted near-subset not found: $pairs")
    assert(!pairs.contains((11L, 10L)), "the big doc is not contained in the small one")
    assert(!pairs.keySet.exists { case (a, b) => a == 12L || b == 12L })
    // keep rule: the contained doc dies, the container and unrelated live
    val keep = Dedup.containmentKeep(cdocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!keep(10L) && keep(11L) && keep(12L), s"keep table wrong: $keep")
  }

  test("containmentKeep: exact copies collapse; equal-size tie-break keeps min id") {
    val cdocs = Seq((1L, base), (2L, base), (3L, unrelated)).toDF("doc_id", "text")
    val out = Dedup.containmentKeep(cdocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (0L, true))  // min-id copy survives
    assert(out(2L) == (1L, false)) // its container is the representative
    assert(out(3L) == (0L, true))
  }

  test("incremental dedup kills cross-generation and within-batch dups, equals full batch") {
    // old generation: 1=base, 3=unrelated. new generation: 10=exact
    // copy of 1, 11=near-dup of 1, 12=fresh text, 13=near-dup of 12
    val fresh = "entirely new crawl content about bucketed parquet sinks and " +
      "compaction policies for small file rewrites in the table layer"
    val freshDup = "entirely new crawl content about bucketed parquet sinks and " +
      "compaction policies for large file rewrites in the table layer"
    val oldDocs = Seq((1L, base), (3L, unrelated)).toDF("doc_id", "text")
    val newDocs = Seq((10L, base), (11L, nearDup), (12L, fresh), (13L, freshDup))
      .toDF("doc_id", "text")
    val state = Dedup.minhashState(oldDocs, "doc_id", "text")
    val keep = Dedup.minhashKeepIncremental(state, newDocs, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!keep(10L), "exact copy of an old doc must die")
    assert(!keep(11L), "near-dup of an old doc must die")
    assert(keep(12L), "fresh content survives")
    assert(!keep(13L), "within-batch near-dup of a smaller new id must die")
    // the equivalence the operator promises: same keep decisions as a
    // monolithic full-batch run over old ∪ new
    val full = Dedup.minhashKeep(oldDocs.unionAll(newDocs), "doc_id", "text",
        threshold = 0.5)
      .filter(col("doc_id") >= 10L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep == full, s"incremental $keep != full-batch $full")
  }

  test("incremental dedup with interleaved ids: only smaller-id state partners kill") {
    // state holds ids 10 and 3; the new batch holds 5 (copy of 10's
    // text) and 20 (near-dup of it). Under keep-first over the union,
    // 5 beats 10 (smaller id) and must SURVIVE; 20 loses to both
    val oldDocs = Seq((10L, base), (3L, unrelated)).toDF("doc_id", "text")
    val newDocs = Seq((5L, base), (20L, nearDup)).toDF("doc_id", "text")
    val keep = Dedup.minhashKeepIncremental(
        Dedup.minhashState(oldDocs, "doc_id", "text"), newDocs, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep(5L), "a newcomer with a smaller id than its state twin must survive")
    assert(!keep(20L), "near-dup of a smaller-id state doc must die")
    val full = Dedup.minhashKeep(oldDocs.unionAll(newDocs), "doc_id", "text",
        threshold = 0.5)
      .filter(col("doc_id").isin(5L, 20L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep == full, s"incremental $keep != full-batch $full")
  }

  // --- the q_corpus_pipeline edge corpus through the rest of the family ---
  // punctuation-only, empty, NULL, sub-shingle, CJK, accent-distinct and
  // case-folded docs (CorpusAssemblySpec); the outputs below are pinned

  private lazy val edge = CorpusAssemblySpec.edgeDocs
    .map { case (id, text, _, _) => (id, text) }.toDF("doc_id", "text")

  private def keepTable(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Boolean)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap

  test("incremental equals full on the edge corpus: exact copies of shingle-less state docs die") {
    // the state holds 1,3,5,7,9,11; 4, 6 (NULL) and 8 are exact copies of
    // shingle-less state docs 3, 5 and 7, which never band
    val state = Dedup.minhashState(edge.filter(col("doc_id").isin(1L, 3L, 5L, 7L, 9L, 11L)),
      "doc_id", "text")
    val batch = edge.filter(!col("doc_id").isin(1L, 3L, 5L, 7L, 9L, 11L))
    val inc = Dedup.minhashKeepIncremental(state, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val full = Dedup.minhashKeep(edge, "doc_id", "text")
      .filter(!col("doc_id").isin(1L, 3L, 5L, 7L, 9L, 11L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(inc == full, s"incremental $inc != full-batch $full")
    assert(!inc(4L) && !inc(6L) && !inc(8L), s"shingle-less exact copies must die: $inc")
    assert(inc(12L), s"the accent-distinct doc survives: $inc")
  }

  test("incremental refuses a state without its text key") {
    val keyless = Dedup.minhashState(edge, "doc_id", "text").drop("text_md5")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashKeepIncremental(keyless, edge, "doc_id", "text")
    }
    assert(e.getMessage.contains("text_md5"), e.getMessage)
  }

  test("edge corpus: simhashKeep keep-table") {
    // token-less docs (3, 4, 5, 6) skip the block join: only the exact
    // layer kills them (4 = 3, NULL 6 = '' 5)
    assert(keepTable(Dedup.simhashKeep(edge, "doc_id", "text")) == Map(
      1L -> ((0L, true)), 2L -> ((0L, true)), 3L -> ((0L, true)), 4L -> ((1L, false)),
      5L -> ((0L, true)), 6L -> ((1L, false)), 7L -> ((0L, true)), 8L -> ((1L, false)),
      9L -> ((0L, true)), 10L -> ((1L, false)), 11L -> ((0L, true)), 12L -> ((1L, false)),
      13L -> ((1L, false))))
  }

  test("simhashKeep keeps distinct token-less texts apart: only the exact layer applies") {
    val tokenless = Seq((1L, ""), (2L, "!!! ???"), (3L, "!!! ???")).toDF("doc_id", "text")
    assert(keepTable(Dedup.simhashKeep(tokenless, "doc_id", "text")) == Map(
      1L -> ((0L, true)), 2L -> ((0L, true)), 3L -> ((1L, false))))
  }

  test("edge corpus: containmentKeep keep-table") {
    // 1 sits inside 2 (2 adds a word), so the superset 2 survives
    assert(keepTable(Dedup.containmentKeep(edge, "doc_id", "text")) == Map(
      1L -> ((1L, false)), 2L -> ((0L, true)), 3L -> ((0L, true)), 4L -> ((1L, false)),
      5L -> ((0L, true)), 6L -> ((1L, false)), 7L -> ((0L, true)), 8L -> ((1L, false)),
      9L -> ((0L, true)), 10L -> ((1L, false)), 11L -> ((0L, true)), 12L -> ((0L, true)),
      13L -> ((2L, false))))
  }

  test("edge corpus: linkByDeletionK(1) pairs") {
    // NULL links to nothing; '' has no partner; the case-folded copy is
    // far beyond one edit
    val got = graft.operators.Linkage.linkByDeletionK(edge, "doc_id", "text", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((3L, 4L, 0L), (7L, 8L, 0L), (9L, 10L, 0L), (11L, 12L, 1L)), s"got $got")
  }

  test("edge corpus: fuzzyNamePairs") {
    val got = graft.operators.Fuzzy.fuzzyNamePairs(edge, "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("è alpha beta gamma", "é alpha beta gamma", 1L)), s"got $got")
  }

  test("the near-dup family self-joins candidate pairs only in Dedup.selfPairs") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    def scalaFiles(d: Path): List[Path] = {
      val walk = Files.walk(d)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val files = Seq("dedup", "pipelines").map(root.resolve).flatMap(scalaFiles) ++
      Seq("operators/Linkage.scala", "operators/Fuzzy.scala").map(root.resolve)
    assert(files.forall(Files.exists(_)), s"sources not found under ${root.toAbsolutePath}")
    val selfJoin = """\.as\("a"\)\s*\.join\(""".r
    val joins = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
      selfJoin.findAllMatchIn(src).map { m =>
        val enclosing = "def \\w+".r.findAllIn(src.substring(0, m.start)).toSeq.lastOption
        s"${f.getFileName}:${enclosing.getOrElse("?")}"
      }.toList
    }
    assert(joins == Seq("Dedup.scala:def selfPairs"), joins.mkString(", "))
  }

  test("ngramJaccard: 1.0 for identical, high for near-dup, 0 for disjoint") {
    val j = docs.as("a").join(docs.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("ia"), $"b.doc_id".as("ib"),
        Dedup.ngramJaccard($"a.text", $"b.text").as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 2L)) > 0.5 && j((1L, 2L)) < 1.0)
    assert(j((1L, 3L)) == 0.0)
  }

  test("semanticKeep dedups within cells only, assigns by cosine argmax") {
    val vecs = Seq(
      (0L, Array(1f, 0f)),      // seed centroid 0
      (1L, Array(0f, 1f)),      // seed centroid 1
      (2L, Array(0.99f, 0.14f)), // cell 0, cos(·, v0) ≈ 0.990 → dropped
      (3L, Array(-1f, 0.1f)),   // cell 1 (cos vs v1 = 0.0995) → kept
      (4L, Array(2f, 0f)),      // cell 0, same direction as v0 → dropped
      (5L, Array(0.1f, 0.9f)))  // cell 1, cos(·, v1) ≈ 0.994 → dropped
      .toDF("vec_id", "embedding")
    val cents = graft.dedup.SemDedup.seedCentroids(vecs, "vec_id", "embedding", 2)
    val got = graft.dedup.SemDedup
      .semanticKeep(vecs, "vec_id", "embedding", cents, 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == Map(
      0L -> ((0L, true)), 1L -> ((1L, true)), 2L -> ((0L, false)),
      3L -> ((1L, true)), 4L -> ((0L, false)), 5L -> ((1L, false))), s"got $got")
  }

  test("seedCentroids is duplication-invariant (distinct-value seeding)") {
    val base = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (2L, Array(1f, 1f)))
    val dup = base ++ base.map { case (i, v) => (i + 100L, v) } // exact copies
    val c1 = graft.dedup.SemDedup
      .seedCentroids(base.toDF("vec_id", "embedding"), "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    val c2 = graft.dedup.SemDedup
      .seedCentroids(dup.toDF("vec_id", "embedding"), "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    assert(c1 == c2)
  }

  test("embedding near-dup finds planted duplicate vector, not orthogonal ones") {
    val rnd = new scala.util.Random(7)
    def randVec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val v1 = randVec()
    val v1jitter = v1.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val vecs = (Seq((1L, v1), (2L, v1jitter)) ++
      (3L to 20L).map(i => (i, randVec()))).toDF("vec_id", "embedding")
    val keep = Dedup.embeddingKeep(vecs, "vec_id", "embedding", 16, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep(1L) && !keep(2L))
    assert((3L to 20L).forall(keep))
  }
}
