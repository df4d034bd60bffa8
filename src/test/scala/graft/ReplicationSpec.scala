package graft

import graft.dedup.Dedup
import graft.similarity.{Ann, Pca}
import graft.text.{Boilerplate, Bpe, Decontaminate, InvertedIndex, SegmentDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Replication as a metamorphic relation (Chen, Cheung & Yiu 1998):
  * every input row is copied n× with id' = id·n + rep, which keeps the
  * id order and puts each original's rep-0 copy first. Each operator
  * must answer the copied input with its answer on the original,
  * carried through the relation its test states. The copies are the
  * worst case for the blocking joins (every bucket n× deeper) and for
  * any tie-break that depends on partitioning rather than on data. */
class ReplicationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val n = 20

  private def replicate(df: DataFrame, id: String): DataFrame =
    df.crossJoin(spark.range(n).toDF("__rep"))
      .withColumn(id, col(id) * n + col("__rep"))
      .drop("__rep")

  /** The one drift count: rows that one side holds more often than
    * the other, as multisets. */
  private def assertNoDrift(what: String, want: DataFrame, got: DataFrame): Unit = {
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    assert(missing == 0 && extra == 0,
      s"$what drifted under ${n}x replication: $missing rows missing, $extra extra")
  }

  /** A per-document operator: every copy answers as its original. */
  private def assertCopiesAnswerAsOriginal(what: String, input: DataFrame, id: String)(
      op: (DataFrame, Int) => DataFrame): Unit =
    assertNoDrift(what, replicate(op(input, 1), id), op(replicate(input, id), n))

  private def words(seed: Int, k: Int): String = {
    val r = new scala.util.Random(seed)
    Seq.fill(k)(s"w${r.nextInt(400)}").mkString(" ")
  }
  private val header = "welcome to the daily graft news page read on"
  private val inner = words(30, 30)
  private val news20 = s"$header ${words(20, 32)}"

  /** The edge corpus (NULL, empty, token-less, shingle-less, exact and
    * case-folded copies) plus longer docs: a near-dup pair, a doc
    * contained in a larger one, and one source whose docs share a
    * header chunk. Every keep-first layer and every cut has work. */
  private lazy val docs = (CorpusAssemblySpec.edgeDocs.map { case (id, t, _, s) => (id, t, s) } ++
    Seq(
      (20L, news20, "news"),
      (21L, news20.split(" ").dropRight(1).mkString(" ") + " w999", "news"),
      (30L, inner, "blog"),
      (31L, s"${words(31, 8)} $inner ${words(32, 8)}", "blog")) ++
    (22L to 27L).map(i => (i, s"$header ${words(i.toInt, 32)}", "news")) ++
    (32L to 35L).map(i => (i, words(i.toInt * 7, 40), "blog")))
    .toDF("doc_id", "text", "source")

  private def keptIds(keepTable: DataFrame): DataFrame =
    keepTable.filter(col("keep")).select("doc_id")

  test("keep-first dedup keeps exactly the rep-0 copy of each original survivor") {
    val ops = Seq[(String, DataFrame => DataFrame)](
      "minhashKeep" -> (Dedup.minhashKeep(_, "doc_id", "text")),
      "simhashKeep" -> (Dedup.simhashKeep(_, "doc_id", "text")),
      "containmentKeep" -> (Dedup.containmentKeep(_, "doc_id", "text")))
    for ((name, keep) <- ops) {
      val kept = keptIds(keep(docs))
      assert(kept.count() < docs.count(), s"$name killed nothing at 1x")
      assertNoDrift(name, kept.select((col("doc_id") * n).as("doc_id")),
        keptIds(keep(replicate(docs, "doc_id"))))
    }
  }

  test("decontaminate and span excision report every copy as its original") {
    val bench = docs.filter(col("doc_id").isin(1L, 20L)).select("doc_id", "text")
    val train = docs.filter(!col("doc_id").isin(1L, 20L)).select("doc_id", "text")
    val marked = Decontaminate.markContaminated(train, bench, "doc_id", "text", n = 4)
    assert(marked.filter(col("contaminated")).count() > 0, "no train doc hit the bench")
    assertCopiesAnswerAsOriginal("markContaminated", train, "doc_id") { (t, _) =>
      Decontaminate.markContaminated(t, bench, "doc_id", "text", n = 4)
    }
    assertCopiesAnswerAsOriginal("exciseContaminated", train, "doc_id") { (t, _) =>
      Decontaminate.exciseContaminated(t, bench, "doc_id", "text", n = 4)
    }
  }

  test("segment dedup cuts every chunk once each segment occurs in n docs") {
    val totals = SegmentDedup.cleanChunks(replicate(docs, "doc_id"), "doc_id", "text")
      .agg(sum("n_chunks"), sum("n_removed"), max(length(col("clean_text"))))
      .as[(Long, Long, Int)].head()
    assert(totals._1 > 0 && totals._1 == totals._2 && totals._3 == 0,
      s"(n_chunks, n_removed, max clean length) = $totals")
  }

  test("per-source boilerplate reports every copy as its original at an n-times floor") {
    def strip(d: DataFrame, k: Int) = Boilerplate.stripFrequent(d, "doc_id", "text", "source",
      chunkWords = 4, minFrac = 0.3, minDocs = 3 * k)
    assert(strip(docs, 1).filter(col("n_removed") > 0).count() > 0,
      "the header cut nothing: the relation would hold vacuously")
    assertCopiesAnswerAsOriginal("stripFrequent", docs, "doc_id")(strip)
  }

  test("inverted index: every term's df is exactly n times its df") {
    assertNoDrift("invertedIndex df",
      InvertedIndex.build(docs, "doc_id", "text").select(col("term"), col("df") * n),
      InvertedIndex.build(replicate(docs, "doc_id"), "doc_id", "text")
        .select(col("term"), col("df")))
  }

  test("cdcChunks: every copy chunks exactly as its original") {
    assertCopiesAnswerAsOriginal("cdcChunks", docs, "doc_id") { (d, _) =>
      d.select(col("doc_id"), graft.functions.expressions.cdcChunks(col("text")).as("chunks"))
    }
  }

  test("bpe: the merge table is identical and every count is exactly n times") {
    val base = Bpe.learnMerges(docs, "text", 4)
    val big = Bpe.learnMerges(replicate(docs, "doc_id"), "text", 4)
    assert(base.map(m => (m._1, m._2, m._3 * n)) == big, s"$base vs $big")
  }

  private lazy val embeddings = {
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian() * 2))
    (0L until 40L).map { i =>
      (i, centers((i % 8).toInt).map(x => (x + rnd.nextGaussian() * 0.2).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("pca: every exact moment scales n times to the integer") {
    val (g1, s1, n1) = Pca.gramStats(embeddings, "embedding", 16)
    val (gN, sN, nN) = Pca.gramStats(replicate(embeddings, "vec_id"), "embedding", 16)
    assert(nN == n * n1)
    assert(gN.toSeq == g1.toSeq.map(_ * n), "second moments drifted")
    assert(sN.toSeq == s1.toSeq.map(_ * n), "first moments drifted")
  }

  test("ivfPqTopK: every probe among n identical twins keeps recall >= 2/5") {
    // twins tie at cosine 1.0: a tie-break that depends on partitioning,
    // or a candidate lost in the composition, shows as a recall drop
    val big = replicate(embeddings, "vec_id")
    val probes = big.filter(pmod(col("vec_id"), lit(n)) === 0 && col("vec_id") < 3L * n)
    val exact = Ann.bruteForceTopK(big, probes, "vec_id", "embedding", 5)
      .select("probe_id", "vec_id")
    val approx = Ann.ivfPqTopK(big, probes, "vec_id", "embedding", 16, 5)
      .select("probe_id", "vec_id")
    // from the probe set: a probe with no hit at all still counts
    val hits = probes.select(col("vec_id").as("probe_id"))
      .join(exact.intersect(approx).groupBy("probe_id").agg(count(lit(1)).as("n_hit")),
        Seq("probe_id"), "left")
      .select(col("probe_id"), coalesce(col("n_hit"), lit(0L)))
      .as[(Long, Long)].collect().toMap
    assert(hits.size == 3 && hits.values.forall(_ >= 2), s"hits per probe: $hits")
  }
}
