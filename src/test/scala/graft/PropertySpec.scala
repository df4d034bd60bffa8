package graft

import graft.functions.HashOps
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests for the hash kernels over seeded random
  * inputs (pure JVM functions; the distributed paths are covered by
  * the operator specs). */
class PropertySpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(0xC0FFEE)
  private val vocab = Vector("spark", "scan", "join", "agg", "table", "row",
    "batch", "stream", "merge", "filter", "the", "a", "fast", "slow", "key")

  private def randText(): String =
    Seq.fill(rnd.nextInt(60) + 1)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  private def arr(xs: Array[Long]) = new GenericArrayData(xs)
  private def sh(t: String) = HashOps.wordShingleHashes(UTF8String.fromString(t), 3)

  test("hashJaccard is bounded, symmetric, 1.0 on self") {
    for (_ <- 1 to 200) {
      val (a, b) = (randText(), randText())
      val (ha, hb) = (sh(a), sh(b))
      val jab = HashOps.hashJaccard(arr(ha), arr(hb))
      assert(jab >= 0.0 && jab <= 1.0)
      assert(jab == HashOps.hashJaccard(arr(hb), arr(ha)))
      // self-similarity is 1.0 for any doc WITH shingles; a
      // shingle-less doc (< 3 tokens) is in no dup relation, even
      // with itself (the degenerate-doc contract, round 13)
      assert(HashOps.hashJaccard(arr(ha), arr(ha)) == (if (ha.nonEmpty) 1.0 else 0.0))
    }
  }

  test("wordShingleHashes is sorted, distinct, case-insensitive") {
    for (_ <- 1 to 200) {
      val t = randText()
      val h = sh(t)
      assert(h.toSeq == h.toSeq.sorted && h.toSeq == h.toSeq.distinct)
      assert(sh(t.toUpperCase).toSeq == h.toSeq)
      // punctuation between words is a token boundary, like \W+
      assert(sh(t.replace(" ", ", ")).toSeq == h.toSeq)
    }
  }

  test("wordChunks: rejoining chunks reproduces the token stream; count is ceil(m/k)") {
    for (_ <- 1 to 200) {
      val t = randText()
      val toks = t.split(" ").filter(_.nonEmpty)
      val k = rnd.nextInt(8) + 1
      val chunks = HashOps.wordChunksStrided(UTF8String.fromString(t), k, k).map(_.toString)
      assert(chunks.length == (toks.length + k - 1) / k)
      assert(chunks.mkString(" ") == toks.mkString(" "))
      chunks.dropRight(1).foreach(c => assert(c.split(" ").length == k))
      // messy whitespace normalizes to the same chunks
      val messy = "  " + t.replace(" ", " \t ") + "\n"
      assert(HashOps.wordChunksStrided(UTF8String.fromString(messy), k, k).map(_.toString).toSeq
        == chunks.toSeq)
    }
  }

  test("hashContainment: bounded, 1.0 on self and subsets, lower-bounded by jaccard") {
    for (_ <- 1 to 200) {
      val (a, b) = (randText(), randText())
      val (ha, hb) = (sh(a), sh(b))
      val c = HashOps.hashContainment(arr(ha), arr(hb))
      assert(c >= 0.0 && c <= 1.0)
      // empty A is NOT vacuously contained (degenerate-doc contract)
      assert(HashOps.hashContainment(arr(ha), arr(ha)) == (if (ha.nonEmpty) 1.0 else 0.0))
      // |A∩B|/|A| ≥ |A∩B|/|A∪B| always — containment can only exceed
      // jaccard (the property that makes it catch near-subsets)
      assert(c >= HashOps.hashJaccard(arr(ha), arr(hb)) - 1e-12)
      // a genuine subset (intersection of the two sets) is fully
      // contained in both originals
      val inter = ha.toSet.intersect(hb.toSet).toArray.sorted
      if (inter.nonEmpty) {
        assert(HashOps.hashContainment(arr(inter), arr(ha)) == 1.0)
        assert(HashOps.hashContainment(arr(inter), arr(hb)) == 1.0)
      }
    }
  }

  test("wordChunksStrided: every chunk bounded by window, token stream at stride offsets") {
    for (_ <- 1 to 200) {
      val t = randText()
      val toks = t.split(" ").filter(_.nonEmpty)
      val st = rnd.nextInt(6) + 1
      val w = st + rnd.nextInt(6)
      val chunks = HashOps.wordChunksStrided(UTF8String.fromString(t), w, st).map(_.toString)
      assert(chunks.length == (toks.length + st - 1) / st)
      chunks.zipWithIndex.foreach { case (c, i) =>
        val expect = toks.slice(i * st, math.min(i * st + w, toks.length))
        assert(c.split(" ").toSeq == expect.toSeq, s"chunk $i mismatch")
      }
    }
  }

  test("minhashSig is fixed-width and deterministic") {
    for (_ <- 1 to 100) {
      val h = sh(randText())
      val sig = HashOps.minhashSig(arr(h), 64)
      assert(sig.length == 64)
      assert(HashOps.minhashSig(arr(h), 64).toSeq == sig.toSeq)
    }
  }

  test("minhash signature agreement tracks jaccard similarity") {
    // near-identical texts agree on most permutation slots; unrelated
    // texts (disjoint vocab) agree on almost none
    val base = Seq.fill(60)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val near = base.split(" ").updated(5, "changed").mkString(" ")
    val far = Seq.fill(60)("zz" + rnd.nextInt(1000)).mkString(" ")
    def agree(a: String, b: String): Double = {
      val (sa, sb) = (HashOps.minhashSig(arr(sh(a)), 64), HashOps.minhashSig(arr(sh(b)), 64))
      sa.zip(sb).count { case (x, y) => x == y } / 64.0
    }
    assert(agree(base, near) > 0.5)
    assert(agree(base, far) < 0.1)
  }

  test("simhash: identical tokens → identical hash; disjoint vocab → far") {
    def tok(s: String) = new GenericArrayData(
      s.split(" ").filter(_.nonEmpty).map(UTF8String.fromString(_): Any))
    val t = randText()
    assert(HashOps.simhash64(tok(t)) == HashOps.simhash64(tok(t)))
    val far = Seq.fill(40)("qq" + rnd.nextInt(1000)).mkString(" ")
    assert(java.lang.Long.bitCount(
      HashOps.simhash64(tok(t)) ^ HashOps.simhash64(tok(far))) > 8)
  }

  test("cosine is 1 on self, bounded, symmetric") {
    def vec() = Array.fill(16)(rnd.nextGaussian())
    for (_ <- 1 to 200) {
      val (a, b) = (vec(), vec())
      def ad(x: Array[Double]) = new GenericArrayData(x)
      val c = HashOps.cosine(ad(a), ad(b), isFloat = false)
      assert(c >= -1.0000001 && c <= 1.0000001)
      assert(c == HashOps.cosine(ad(b), ad(a), isFloat = false))
      assert(math.abs(HashOps.cosine(ad(a), ad(a), isFloat = false) - 1.0) < 1e-9)
    }
  }

  test("winnow fingerprints overlap under a prefix edit") {
    for (_ <- 1 to 100) {
      val t = randText()
      if (t.length > 40) {
        val w1 = HashOps.winnow(UTF8String.fromString(t), 8, 16).toSet
        val w2 = HashOps.winnow(UTF8String.fromString("PREFIX-" + t), 8, 16).toSet
        assert((w1 intersect w2).nonEmpty)
      }
    }
  }

  test("winnow sample size stays within the q_fingerprint oracle bound") {
    // the q_fingerprint invariant: 1 <= |winnow(k=8,w=16)| <= max(1, B-22)
    // where B is the BYTE length (== char length on the ASCII corpus;
    // the oracle's chars-based bound is valid only because of that)
    for (len <- Seq(0, 1, 7, 8, 23, 24, 25, 100) ++ (1 to 50).map(_ => rnd.nextInt(300))) {
      val t = randText().padTo(len, 'x').take(len)
      val b = t.getBytes("UTF-8").length
      val n = HashOps.winnow(UTF8String.fromString(t), 8, 16).length
      assert(n >= 1 && n <= math.max(1, b - 22),
        s"len=$len bytes=$b winnow=$n")
    }
  }

  test("searchSorted equals the linear count of breaks <= v (random sorted breaks)") {
    for (_ <- 1 to 500) {
      val breaks = Array.fill(rnd.nextInt(40) + 1)(rnd.nextLong() % 1000L).sorted
      val v = rnd.nextLong() % 1200L
      val got = HashOps.searchSorted(breaks, v)
      assert(got == breaks.count(_ <= v), s"breaks=${breaks.toSeq} v=$v got=$got")
      assert(got >= 0 && got <= breaks.length)
    }
  }

  test("cycleStats equals the brute-force census on random functional graphs") {
    val spark = TestSpark.spark
    import spark.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(160)
      val f = Array.fill(n)(rnd.nextInt(n).toLong)
      // brute force: a node is on a cycle iff walking n steps returns
      // to it at some point with period dividing the walk; simplest —
      // iterate n steps to land on the terminal cycle, then walk that
      // cycle collecting members
      val onCycle = scala.collection.mutable.Map.empty[Long, Long] // node -> cycle min
      for (start <- 0 until n) {
        var v = start.toLong
        for (_ <- 0 until n) v = f(v.toInt)
        // v is on a cycle now; walk it
        val members = scala.collection.mutable.ArrayBuffer(v)
        var w = f(v.toInt)
        while (w != v) { members += w; w = f(w.toInt) }
        val mn = members.min
        members.foreach(m => onCycle(m) = mn)
      }
      val want = onCycle.groupBy(_._2).view
        .mapValues(_.size.toLong).toMap
      val nxt = (0 until n).map(i => (i.toLong, f(i))).toDF("id", "n")
      val got = graft.operators.Graph.cycleStats(nxt, "id", "n")
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"seed=$seed n=$n got=$got want=$want")
    }
  }

  test("gopherTopNgramPpm agrees with a naive recount on random word salads (C89)") {
    for (_ <- 1 to 200) {
      val t = randText()
      val got = HashOps.gopherTopNgramPpm(UTF8String.fromString(t), 2, 4).toSeq
      val toks = t.split("[ \t\n\r]+").filter(_.nonEmpty).toSeq
      val want = (2 to 4).map { n =>
        if (toks.length < n || t.isEmpty) 0L
        else {
          val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
          val counts = grams.groupBy(identity).view.mapValues(_.size).toMap
          val best = counts.toSeq.minBy { case (g, c) => (-c, g) }
          best._2.toLong * best._1.length * 1000000L / t.length
        }
      }
      assert(got == want, s"text='$t' got=$got want=$want")
    }
  }

  test("hashedLinearScore is additive over concatenation and case-blind (C90)") {
    def score(t: String) = HashOps.hashedLinearScore(
      UTF8String.fromString(t), 65536L, 1442695040888963407L)
    for (_ <- 1 to 200) {
      val (a, b) = (randText(), randText())
      // per-occurrence sum => concatenation with a separator is additive
      assert(score(a + " " + b) == score(a) + score(b))
      assert(score(a.toUpperCase) == score(a))
      // separators carry no weight
      assert(score("  ,. " + a + " ;;") == score(a))
    }
  }

  // Texts for the two token rules: mixed-case ASCII, digits, `_`,
  // punctuation, 2/3/4-byte characters, and every whitespace byte either
  // rule could be confused about (\f and \x0B are NOT span separators).
  private object TokenTexts {
    val r = new scala.util.Random(0x70CE5)
    val pieces = Vector("The", "AND", "der", "Und", "le", "et", "Spark", "x_1",
      "42", "café", "ÉTÉ", "中文", "中", "😀", "a😀b", "_", "MiXeD9", "é")
    val seps = Vector(" ", "  ", "\t", "\n", "\r", "\r\n", "\f", "\u000B",
      ", ", ".", "-", "!?", "'", "/", " \f ", "\u000B\t")
    def text(): String = {
      val sb = new StringBuilder
      if (r.nextInt(4) == 0) sb ++= seps(r.nextInt(seps.size))
      for (_ <- 0 until r.nextInt(30)) {
        sb ++= pieces(r.nextInt(pieces.size))
        sb ++= seps(r.nextInt(seps.size))
      }
      sb.toString
    }
    val all: Seq[String] = Seq("", " ", "\f", "a\fb c\u000Bd", "中文中文中文 the", "中文 中") ++ Seq.fill(300)(text())
  }

  private def fnv(bytes: Array[Byte]): Long =
    bytes.foldLeft(0xcbf29ce484222325L)((h, b) => (h ^ (b & 0xffL)) * 0x100000001b3L)

  /** Lowered word rule, test-local: split the UTF-8 bytes on non-word
   * bytes (word = [A-Za-z0-9_] or >= 0x80), lower ASCII letters. */
  private def loweredWords(t: String): Seq[Array[Byte]] = {
    def word(b: Int) = Character.isLetterOrDigit(b) && b < 0x80 || b == '_' || b >= 0x80
    val out = Seq.newBuilder[Array[Byte]]
    var cur = Array.newBuilder[Byte]; var len = 0
    for (b0 <- t.getBytes("UTF-8") :+ ' '.toByte) {
      val b = b0 & 0xff
      if (word(b)) { cur += (if (b >= 'A' && b <= 'Z') b + 32 else b).toByte; len += 1 }
      else if (len > 0) { out += cur.result(); cur = Array.newBuilder[Byte]; len = 0 }
    }
    out.result()
  }

  test("lowered word rule: simhash, classifier, shingles and langId agree with one reference") {
    val markers = Seq("en" -> Seq("the", "and"), "de" -> Seq("der", "und"), "fr" -> Seq("le", "et"))
    val markerHashes = markers.map(_._2.map(w => fnv(w.getBytes("UTF-8"))).sorted.toArray).toArray
    val codes = markers.map(m => UTF8String.fromString(m._1)).toArray
    val (buckets, seed) = (65536L, 1442695040888963407L)
    var zh, und, hit = 0
    for (t <- TokenTexts.all) {
      val s = UTF8String.fromString(t)
      val toks = loweredWords(t)
      val hs = toks.map(fnv)
      val tokArr = new GenericArrayData(toks.map(b => UTF8String.fromBytes(b): Any).toArray)
      assert(HashOps.simhashText(s) == HashOps.simhash64(tokArr), t)
      val want = hs.map { h =>
        java.lang.Long.remainderUnsigned(
          HashOps.mix64(java.lang.Long.remainderUnsigned(h, buckets) ^ seed), 2001L) - 1000L
      }.sum
      assert(HashOps.hashedLinearScore(s, buckets, seed) == want, t)
      for (n <- 1 to 4) {
        val sh = if (hs.length < n) Seq.empty[Long]
          else hs.sliding(n).map(_.foldLeft(0xcbf29ce484222325L)((a, h) => HashOps.mix64(a ^ h))).toSeq
        assert(HashOps.wordShingleHashes(s, n).toSeq == sh.distinct.sorted, s"n=$n $t")
      }
      val cps = t.codePoints().toArray
      val lang =
        if (cps.count(c => c >= 0x4E00 && c <= 0x9FFF) * 2 > cps.length) "zh"
        else {
          val hits = markerHashes.map(m => hs.count(h => m.contains(h)))
          if (hits.max == 0) "und" else markers(hits.indexOf(hits.max))._1
        }
      lang match { case "zh" => zh += 1; case "und" => und += 1; case _ => hit += 1 }
      assert(HashOps.langId(s, markerHashes, codes).toString == lang, t)
    }
    assert(zh > 0 && und > 0 && hit > 0, s"zh=$zh und=$und hit=$hit")
  }

  test("whitespace span rule: n-grams, strided chunks and Gopher ppm agree with one reference") {
    def strs(a: Array[UTF8String]) = a.map(_.toString).toSeq
    assert(strs(HashOps.wordNgrams(UTF8String.fromString("a\fb c\u000Bd"), 1)) == Seq("a\fb", "c\u000Bd"))
    for (t <- TokenTexts.all) {
      val s = UTF8String.fromString(t)
      val toks = t.split("[ \t\n\r]+").filter(_.nonEmpty).toSeq
      val m = toks.length
      for (n <- 1 to 4) {
        val grams = if (m < n) Seq.empty else toks.sliding(n).map(_.mkString(" ")).toSeq
        assert(strs(HashOps.wordNgrams(s, n)) == grams, s"n=$n $t")
      }
      for (st <- 1 to 4; w <- st to st + 3) {
        val chunks = (0 until (m + st - 1) / st).map(i => toks.slice(i * st, i * st + w).mkString(" "))
        assert(strs(HashOps.wordChunksStrided(s, w, st)) == chunks, s"w=$w st=$st $t")
      }
      val chars = t.codePointCount(0, t.length).toLong
      val ppm = (1 to 4).map { n =>
        if (m < n || chars == 0L) 0L
        else {
          val counts = toks.sliding(n).map(_.mkString(" ")).toSeq.groupBy(identity).map {
            case (g, gs) => (g, gs.size) }
          val best = counts.toSeq.sortWith { case ((ga, ca), (gb, cb)) =>
            ca > cb || ca == cb &&
              java.util.Arrays.compareUnsigned(ga.getBytes("UTF-8"), gb.getBytes("UTF-8")) < 0
          }.head
          best._2.toLong * best._1.codePointCount(0, best._1.length) * 1000000L / chars
        }
      }
      assert(HashOps.gopherTopNgramPpm(s, 1, 4).toSeq == ppm, t)
    }
  }

  test("src/main holds one copy of each token rule, in HashOps") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, s"sources not found under ${root.toAbsolutePath}")
    val srcs = files.map(f =>
      f.getFileName.toString -> new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8))
    def sites(rule: scala.util.matching.Regex) =
      srcs.flatMap { case (name, src) => rule.findAllIn(src).map(_ => name) }
    val wordByte = """(\w+)\s*==\s*'_'\s*\|\|\s*\1\s*>=\s*0x80""".r
    val wsByte = """(\w+)\s*==\s*' '\s*\|\|\s*\1\s*==\s*'\\t'\s*\|\|\s*\1\s*==\s*'\\n'\s*\|\|\s*\1\s*==\s*'\\r'""".r
    assert(sites(wordByte) == List("HashOps.scala"), s"lowered word rule at: ${sites(wordByte)}")
    assert(sites(wsByte) == List("HashOps.scala"), s"whitespace span rule at: ${sites(wsByte)}")
    val hashOps = srcs.collect { case ("HashOps.scala", src) => src }
    assert(hashOps.length == 1 && !hashOps.head.contains("TreeSet"), "a TreeSet in HashOps")
  }

  test("luhnValid: appending the computed check digit always validates (C88)") {
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    import spark.implicits._
    def luhnSumNaive(d: String): Int = d.reverse.zipWithIndex.map { case (ch, i) =>
      val v = ch - '0'
      if (i % 2 == 1) { val dd = v * 2; if (dd > 9) dd - 9 else dd } else v
    }.sum
    val bodies = (1 to 100).map(_ => Seq.fill(14)(rnd.nextInt(10)).mkString)
    val withCheck = bodies.map { b =>
      // check digit c makes luhnSum(b + c) % 10 == 0; c sits at rightmost
      // (undoubled) position, so c = (10 - luhnSum(b + "0") % 10) % 10
      val c = (10 - luhnSumNaive(b + "0") % 10) % 10
      b + c.toString
    }
    val got = withCheck.toDF("d")
      .select(graft.text.Pii.luhnValid(col("d"))).as[Boolean].collect()
    assert(got.forall(identity))
    // and bumping the check digit by one always invalidates
    val bumped = withCheck.map(s => s.init + ((s.last - '0' + 1) % 10).toString)
    val bad = bumped.toDF("d")
      .select(graft.text.Pii.luhnValid(col("d"))).as[Boolean].collect()
    assert(bad.forall(!_))
  }
}
