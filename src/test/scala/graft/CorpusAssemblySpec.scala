package graft

import graft.pipelines.CorpusAssembly
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the `q_corpus_pipeline` oracle edge cases (ADVICE r12): the
 * engine's near-dup stage and the DuckDB oracle's string-space replay
 * must agree on punctuation-only, empty/NULL, sub-shingle-length, and
 * non-ASCII documents — not just on the well-formed ASCII corpus the
 * driver fixtures happen to contain. The reference implementation here
 * replays the ORACLE's semantics (ASCII-only lowering, separators =
 * ASCII non-[a-z0-9_], word 3-gram shingles, no shingles under 3
 * tokens) independently of the engine's byte-level FNV kernel. */
class CorpusAssemblySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The oracle's tokenizer, replayed in char space: ASCII A-Z lower,
   * every non-ASCII codepoint is a word char (ASCII chars map 1:1 to
   * UTF-8 bytes, so char-level runs equal the kernel's byte-level
   * runs). */
  private def tokens(text: String): Vector[String] = {
    if (text == null) return Vector.empty
    val lowered = text.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    def flush(): Unit = { if (cur.nonEmpty) { out += cur.toString; cur.clear() } }
    lowered.foreach { c =>
      val word = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_' || c >= 0x80
      if (word) cur.append(c) else flush()
    }
    flush()
    out.result()
  }

  private def shingles(text: String, n: Int = 3): Set[String] = {
    val ts = tokens(text)
    if (ts.length < n) Set.empty else ts.sliding(n).map(_.mkString(" ")).toSet
  }

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val u = (a ++ b).size
    // empty∪empty → 0.0: shingle-less docs are in no dup relation
    if (u == 0) 0.0 else (a & b).size.toDouble / u
  }

  private val docs = CorpusAssemblySpec.edgeDocs

  test("nearDedupExact matches the string-space oracle replay on edge-case docs") {
    val df = docs.toDF("doc_id", "text", "lang", "source")
    val got = CorpusAssembly.nearDedupExact(df)
      .select("doc_id").as[Long].collect().toSet
    // independent replay: doc j dies iff some i < j has jaccard >= 0.8
    val sh = docs.map { case (id, text, _, _) => id -> shingles(text) }
    val expectDead = (for {
      (idA, shA) <- sh; (idB, shB) <- sh
      if idB < idA && shA.nonEmpty && jaccard(shA, shB) >= 0.8
    } yield idA).toSet
    val expect = docs.map(_._1).toSet -- expectDead
    assert(got == expect, s"keep-set mismatch: got $got expected $expect")
    // the load-bearing edge assertions, spelled out
    assert(got.contains(3L) && got.contains(4L),
      "identical punctuation-only docs must BOTH survive (no shingles)")
    assert(Set(5L, 6L, 7L, 8L).subsetOf(got),
      "empty/NULL/sub-shingle docs must all survive")
    assert(got.contains(9L) && !got.contains(10L),
      "identical CJK docs must dedup (non-ASCII runs shingle)")
    assert(got.contains(11L) && got.contains(12L),
      "accent-distinct docs must both survive at 0.8")
    assert(!got.contains(13L), "case-folded ASCII copy must die")
  }

  test("brute-force pair predicates keep shingle-less docs (no blocking to shield them)") {
    import graft.dedup.Dedup
    val df = docs.toDF("doc_id", "text", "lang", "source")
    // the q_dedup_jaccard_exact shape: ALL ordered pairs, no candidate
    // generation — the predicate itself must not relate degenerate docs
    val base = df.select(col("doc_id"),
      graft.functions.expressions.wordShingleHashes(coalesce(col("text"), lit("")), 3).as("sh"))
    val a = base.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = base.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val dupDead = a.join(b, col("id_b") < col("id_a") &&
        graft.functions.expressions.hashJaccard(col("sh_a"), col("sh_b")) >= 0.8)
      .select("id_a").as[Long].collect().toSet
    assert(!Set(4L, 5L, 6L, 7L, 8L).exists(dupDead.contains),
      s"brute-force jaccard must not kill shingle-less docs: $dupDead")
    assert(dupDead.contains(10L) && dupDead.contains(13L),
      s"real near-dups must still die brute-force: $dupDead")
    // the q_dedup_containment_exact shape: empty sets are NOT vacuously
    // contained in every larger doc
    val contDead = a.join(b, col("id_a") =!= col("id_b") &&
        (size(col("sh_b")) > size(col("sh_a")) ||
          (size(col("sh_b")) === size(col("sh_a")) && col("id_b") < col("id_a"))) &&
        graft.functions.expressions.hashContainment(col("sh_a"), col("sh_b")) >= 0.9)
      .select("id_a").as[Long].collect().toSet
    assert(!Set(3L, 4L, 5L, 6L, 7L, 8L).exists(contDead.contains),
      s"brute-force containment must not kill shingle-less docs: $contDead")
  }

  test("minhash near-dedup keeps every shingle-less doc and never bands them together") {
    val df = docs.toDF("doc_id", "text", "lang", "source")
    val keep = graft.dedup.Dedup.minhashKeep(df, "doc_id", "text")
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    // 4 is an EXACT copy of 3 (and 8 of 7), so the layered exact
    // collapse still kills it; distinct shingle-less docs all survive
    assert(Set(3L, 5L, 7L).subsetOf(keep), s"shingle-less reps must survive: $keep")
    assert(!keep.contains(4L) && !keep.contains(8L),
      "exact copies still die in the exact-collapse layer")
    assert(!keep.contains(6L),
      "NULL-text doc coalesces to '' — an exact copy of the empty doc, dies")
    assert(!keep.contains(10L), "identical CJK doc dies in the exact layer")
    assert(!keep.contains(13L), "case-folded near-dup of 1 dies in the minhash layer")
  }

  test("canon stage 0 collapses URL surface variants BEFORE content dedup (C93, r18)") {
    // two docs with DIFFERENT texts but the same logical page URL:
    // no content stage would collapse them — only stage 0 can
    val rows = Seq(
      (1L, "completely different text body one", "https://site.com/p?a=1&b=2"),
      (2L, "another unrelated text body two",
        "HTTP://WWW.SITE.COM:80/p/?b=2&a=1&utm_source=x"),
      (3L, "a third page entirely", "https://site.com/q")
    ).toDF("doc_id", "text", "url")
    val cfg = CorpusAssembly.Config(urlCol = Some("url"))
    val kept = CorpusAssembly.canonDedup(rows, cfg)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"canon keep: $kept")
    // composed: canon runs ahead of exact dedup in assembleStaged
    val staged = CorpusAssembly.assembleStaged(rows, cfg,
      stages = Seq("canon", "exact"))
      .select("doc_id").as[Long].collect().toSet
    assert(staged == Set(1L, 3L))
    // no urlCol: the stage passes through untouched
    assert(CorpusAssembly.canonDedup(rows, CorpusAssembly.Config()).count() == 3L)
  }

  test("canon stage 0 passes null-URL docs through untouched (ADVICE r18)") {
    // mixed provenance: docs without a URL carry no URL identity and
    // must NEVER be URL-deduped — the old null-key window silently
    // dropped all but one of them
    val rows = Seq(
      (1L, "text one", "https://site.com/p"),
      (2L, "text two", null.asInstanceOf[String]),
      (3L, "text three", null.asInstanceOf[String]),
      (4L, "text four", "https://site.com/p?utm_source=x")
    ).toDF("doc_id", "text", "url")
    val cfg = CorpusAssembly.Config(urlCol = Some("url"))
    val kept = CorpusAssembly.canonDedup(rows, cfg)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), s"canon keep: $kept")
  }
}

object CorpusAssemblySpec {
  /** The `q_corpus_pipeline` edge corpus: (doc_id, text, lang, source). */
  val edgeDocs: Seq[(Long, String, String, String)] = Seq(
    // near-dup ASCII pair: only the smaller id survives
    (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "web"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today", "en", "web"),
    // punctuation-only docs — identical, but with NO shingles neither
    // may kill the other (the pre-r13 whole-text collapse would have)
    (3L, "!!! ??? ... ---", "en", "web"),
    (4L, "!!! ??? ... ---", "en", "web"),
    // empty / NULL / sub-shingle-length docs: kept, no dup relation
    (5L, "", "en", "web"),
    (6L, null, "en", "web"),
    (7L, "two words", "en", "web"),
    (8L, "two words", "en", "web"),
    // non-ASCII near-dups: CJK runs are word chars, so these DO
    // shingle (via ASCII separators) and dedup like any other text
    (9L, "中文甲 中文乙 中文丙 中文丁 中文戊", "zh", "cjk"),
    (10L, "中文甲 中文乙 中文丙 中文丁 中文戊", "zh", "cjk"),
    // accent-distinct pair: é vs è makes the first shingle differ —
    // both survive at 0.8 (jaccard 1/3). A separator-treating
    // tokenizer would have collapsed both to identical 'a b c' sets
    (11L, "é alpha beta gamma", "fr", "web"),
    (12L, "è alpha beta gamma", "fr", "web"),
    // ASCII-case-folded copy of 1: dies against 1 (kernel lowers A-Z)
    (13L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG AGAIN AND AGAIN", "en", "web"))
}
