package graft.functions

/** Compiled tracking-parameter drop-list for
 * [[HashOps.canonicalUrl]] (C93): a comma-separated spec where a
 * trailing `*` marks a name PREFIX (`utm_*`) and anything else an
 * exact name. Compiled once per expression (driver-side, shipped to
 * executors as a codegen reference object), matched per param
 * against the percent-normalized name. The list is a parameter —
 * not a constant — because the default's `ref` entry over-merges on
 * sites where `?ref=` is semantic (git forges, docs); callers that
 * crawl such sites pass a tighter spec. */
final class UrlDropList(val spec: String) extends Serializable {
  private val entries =
    spec.split(",").iterator.map(_.trim).filter(_.nonEmpty).toArray
  private val prefixes =
    entries.filter(_.endsWith("*")).map(e => e.substring(0, e.length - 1))
  private val exact = entries.filterNot(_.endsWith("*")).toSet
  def drops(name: String): Boolean =
    exact.contains(name) || prefixes.exists(name.startsWith)
}

object UrlDropList {
  /** The crawl-pipeline default: Google/Facebook click ids plus the
   * `utm_*` campaign family and bare `ref`. */
  val DefaultSpec = "utm_*,gclid,fbclid,ref"
  val Default = new UrlDropList(DefaultSpec)
}

/**
 * Deterministic hash primitives used by the dedup/fingerprint
 * expressions. Static (JVM-wide, allocation-free where possible) so
 * generated code can call them directly from whole-stage codegen.
 */
object HashOps {

  /** Sum of one BIGINT struct field over an array<struct> (nested
   * repeated-record aggregation). Null elements and null field values
   * contribute nothing, matching SUM semantics over a flattened child
   * table. */
  def sumStructField(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      ordinal: Int, numFields: Int): Long = {
    val n = arr.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val row = arr.getStruct(i, numFields)
        if (!row.isNullAt(ordinal)) s += row.getLong(ordinal)
      }
      i += 1
    }
    s
  }

  /** Signed-projection (Johnson–Lindenstrauss sketch) kernel: each
   * coordinate quantizes to micro-units exactly as SQL
   * round(x·1e6) does (BigDecimal HALF_UP — the rounding DuckDB's
   * round() also applies, so the whole projection replays
   * engine-independently), then the k outputs are EXACT integer dot
   * products p_i = Σ_j signs(i·dim+j)·q_j against a plan-embedded ±1
   * matrix. All-integer → reduction-order-free and oracle-replayable,
   * unlike a float random projection. */
  def signedProjection(v: org.apache.spark.sql.catalyst.util.ArrayData,
      signs: Array[Long], dim: Int, isFloat: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    val k = signs.length / dim
    val n = math.min(v.numElements(), dim)
    val q = new Array[Long](n)
    var j = 0
    while (j < n) {
      val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
      q(j) = java.math.BigDecimal.valueOf(x * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      j += 1
    }
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      var s = 0L
      val off = i * dim
      var jj = 0
      while (jj < n) {
        s += signs(off + jj) * q(jj)
        jj += 1
      }
      out(i) = s
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** L2 norm of a numeric array in double precision. */
  def l2norm(a: org.apache.spark.sql.catalyst.util.ArrayData, isFloat: Boolean): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  /** Cosine similarity of two numeric arrays in double precision,
   * sequential fold (deterministic; matches an engine-side
   * float→double cast then ordered accumulation). */
  def cosine(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData, isFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (isFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // zero vector → similarity 0, not NaN (NaN sorts above every real
    // similarity in Spark and would hijack rank 1 of all top-k queries)
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Sign-bit signature of a vector against a fixed plane matrix
   * (row-major dim-length rows), one bit per plane. */
  def hyperplaneSig(v: org.apache.spark.sql.catalyst.util.ArrayData,
      planes: Array[Double], dim: Int, isFloat: Boolean): Long = {
    val numPlanes = planes.length / dim
    val n = math.min(v.numElements(), dim)
    var sig = 0L
    var p = 0
    while (p < numPlanes) {
      var dot = 0.0
      val off = p * dim
      var i = 0
      while (i < n) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        dot += x * planes(off + i)
        i += 1
      }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Indices of the `nProbe` nearest centroids by cosine (row-major
   * `centroids` of `dim`-length rows), descending similarity. */
  def nearestCentroids(v: org.apache.spark.sql.catalyst.util.ArrayData,
      centroids: Array[Double], dim: Int, nProbe: Int, isFloat: Boolean): Array[Int] = {
    val k = centroids.length / dim
    val n = math.min(v.numElements(), dim)
    var vn = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x * x
      i += 1
    }
    val sims = new Array[Double](k)
    var c = 0
    while (c < k) {
      var dot = 0.0; var cn = 0.0
      val off = c * dim
      var j = 0
      while (j < n) {
        val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
        val y = centroids(off + j)
        dot += x * y; cn += y * y
        j += 1
      }
      // zero probe or zero centroid → similarity 0, not NaN (NaN would
      // make the IVF cell assignment arbitrary); matches cosine() above
      sims(c) = if (vn == 0.0 || cn == 0.0) 0.0 else dot / (math.sqrt(vn) * math.sqrt(cn))
      c += 1
    }
    sims.zipWithIndex.sortBy { case (s, idx) => (-s, idx) }
      .take(math.min(nProbe, k)).map(_._2)
  }

  /** Product-quantization encode: split the vector into `m` blocks of
   * `subdim` and emit, per block, the index of the L2-NEAREST
   * sub-centroid (codebooks row-major at [(j*ks + c)*subdim + t]).
   * L2, not cosine: a sub-block's magnitude contributes to the full
   * vector's norm and dot product, so normalizing it away would
   * corrupt every downstream ADC score. Ties take the lowest code;
   * missing tail elements read as 0. */
  def pqEncode(v: org.apache.spark.sql.catalyst.util.ArrayData,
      codebooks: Array[Double], m: Int, subdim: Int, isFloat: Boolean): Array[Int] = {
    val ks = codebooks.length / (m * subdim)
    val n = v.numElements()
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ks) {
        var d = 0.0
        val off = (j * ks + c) * subdim
        var t = 0
        while (t < subdim) {
          val idx = j * subdim + t
          val x = if (idx >= n) 0.0
            else if (isFloat) v.getFloat(idx).toDouble else v.getDouble(idx)
          val diff = x - codebooks(off + t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    codes
  }

  /** ADC lookup table for one probe vector: entry [j*ks + c] =
   * dot(probe block j, sub-centroid c of block j) / |probe| — the
   * probe-side precompute that makes each corpus-row score `m` array
   * reads and adds, zero multiplies. Zero probe → all-zero table
   * (scores 0, matching [[cosine]]'s zero-vector convention). */
  def pqAdcTable(v: org.apache.spark.sql.catalyst.util.ArrayData,
      codebooks: Array[Double], m: Int, subdim: Int, isFloat: Boolean): Array[Double] = {
    val ks = codebooks.length / (m * subdim)
    val n = v.numElements()
    val len = m * subdim
    var pn = 0.0
    var i = 0
    while (i < n && i < len) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      pn += x * x
      i += 1
    }
    val table = new Array[Double](m * ks)
    if (pn == 0.0) return table
    val inv = 1.0 / math.sqrt(pn)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ks) {
        var dot = 0.0
        val off = (j * ks + c) * subdim
        var t = 0
        while (t < subdim) {
          val idx = j * subdim + t
          val x = if (idx >= n) 0.0
            else if (isFloat) v.getFloat(idx).toDouble else v.getDouble(idx)
          dot += x * codebooks(off + t)
          t += 1
        }
        table(j * ks + c) = dot * inv
        c += 1
      }
      j += 1
    }
    table
  }

  /** ADC score from a probe table: cosine(probe, reconstruction) =
   * Σ_j table[j*ks + code_j] / sqrt(Σ_j normSq[j*ks + code_j]) — the
   * numerator entries already carry 1/|probe|, and the reconstruction
   * norm decomposes over the disjoint blocks. All-zero reconstruction
   * → 0, never NaN. */
  def pqTableScore(codes: org.apache.spark.sql.catalyst.util.ArrayData,
      table: org.apache.spark.sql.catalyst.util.ArrayData,
      normSq: Array[Double], ks: Int): Double = {
    val m = codes.numElements()
    var dot = 0.0
    var rn = 0.0
    var j = 0
    while (j < m) {
      val idx = j * ks + codes.getInt(j)
      dot += table.getDouble(idx)
      rn += normSq(idx)
      j += 1
    }
    if (rn == 0.0) 0.0 else dot / math.sqrt(rn)
  }

  /** The lowered word rule, the one tokenizer of [[langId]],
   * [[simhashText]], [[wordShingleHashes]] and [[hashedLinearScore]]
   * (replayed by `QuerySupport.sqlTokenCtes`): a token is a maximal run
   * of bytes in [A-Za-z0-9_] or >= 0x80, ASCII letters lowered, hashed
   * with FNV-1a. A cursor over the bytes: each `next()` steps to the
   * following token and leaves its hash in `hash`. */
  private final class LoweredWords(bytes: Array[Byte]) {
    private var i = 0
    var hash = 0L
    def next(): Boolean = {
      var h = 0xcbf29ce484222325L
      var inTok = false
      while (i < bytes.length) {
        val c = bytes(i) & 0xff
        i += 1
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
            (c >= '0' && c <= '9') || c == '_' || c >= 0x80) {
          h = (h ^ (if (c >= 'A' && c <= 'Z') c + 32 else c)) * 0x100000001b3L
          inTok = true
        } else if (inTok) { hash = h; return true }
      }
      hash = h
      inTok
    }
  }

  private val LangZh = org.apache.spark.unsafe.types.UTF8String.fromString("zh")
  private val LangUnd = org.apache.spark.unsafe.types.UTF8String.fromString("und")

  /**
   * Heuristic language ID in one pass over the text bytes: CJK-
   * dominant text → "zh"; otherwise the language (row of `markers`,
   * each a SORTED array of per-marker-word FNV hashes) with the most
   * marker-word hits, earliest row winning ties; no hits → "und".
   * Tokens follow the lowered word rule ([[LoweredWords]]), so marker
   * hashes are fnv64 of the (lowercase) marker words. Matching by
   * 64-bit hash differs from string equality only on an FNV collision
   * with a marker (~2⁻⁶⁴).
   */
  def langId(s: org.apache.spark.unsafe.types.UTF8String,
      markers: Array[Array[Long]],
      codes: Array[org.apache.spark.unsafe.types.UTF8String]): org.apache.spark.unsafe.types.UTF8String = {
    val bytes = s.getBytes
    // pass 1: codepoint + CJK counting (UTF-8 sequence walk)
    var chars = 0; var cjk = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      if (b < 0x80) { chars += 1; i += 1 }
      else if (b < 0xC0) i += 1 // stray continuation byte
      else if (b < 0xE0) { chars += 1; i += 2 }
      else if (b < 0xF0) {
        if (i + 2 < bytes.length) {
          val cp = ((b & 0x0F) << 12) | ((bytes(i + 1) & 0x3F) << 6) | (bytes(i + 2) & 0x3F)
          if (cp >= 0x4E00 && cp <= 0x9FFF) cjk += 1
        }
        chars += 1; i += 3
      } else { chars += 1; i += 4 }
    }
    if (cjk * 2 > chars) return LangZh
    // pass 2: tokenize + marker-hash membership counting
    val hits = new Array[Int](markers.length)
    val words = new LoweredWords(bytes)
    while (words.next()) {
      var l = 0
      while (l < markers.length) {
        if (java.util.Arrays.binarySearch(markers(l), words.hash) >= 0) hits(l) += 1
        l += 1
      }
    }
    var best = -1; var bestHits = 0
    var l = 0
    while (l < hits.length) {
      if (hits(l) > bestHits) { best = l; bestHits = hits(l) }
      l += 1
    }
    if (best < 0) LangUnd else codes(best)
  }

  /** FNV-1a 64-bit over UTF-8 bytes — stable document fingerprint. */
  def fnv64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit mix (splitmix64 finalizer) — cheap per-token hash. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** One SimHash token: each bit of `h` votes +1/-1 in `votes`. */
  private def simhashVote(votes: Array[Int], h: Long): Unit = {
    var b = 0
    while (b < 64) {
      if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      b += 1
    }
  }

  /** The SimHash output: bit b is set iff its vote total is positive. */
  private def simhashSign(votes: Array[Int]): Long = {
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** SimHash-64 over an array of token strings: per-token 64-bit hash,
   * each bit votes +1/-1, sign of the vote is the output bit. */
  def simhash64(tokens: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) simhashVote(votes, fnv64(tokens.getUTF8String(i)))
      i += 1
    }
    simhashSign(votes)
  }

  /** SimHash-64 straight from raw text: tokenize (the lowered word
   * rule), hash each token, bit-vote — one pass, no intermediate token
   * array. */
  def simhashText(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val votes = new Array[Int](64)
    val words = new LoweredWords(s.getBytes)
    while (words.next()) simhashVote(votes, words.hash)
    simhashSign(votes)
  }

  /**
   * Distinct sorted hashes of word n-gram shingles, computed in one
   * pass over the raw text: the lowered word rule's per-token FNV-1a
   * ([[LoweredWords]]) → rolling n-gram combine. Replaces a
   * split→filter→transform→concat_ws→xxhash64 tree of higher-order
   * functions, which Spark always evaluates interpreted (no codegen)
   * and re-evaluates per lambda reference — the difference is ~100×
   * on the dedup hot path.
   */
  def wordShingleHashes(s: org.apache.spark.unsafe.types.UTF8String, n: Int): Array[Long] = {
    var tokens = new Array[Long](64)
    var m = 0
    val words = new LoweredWords(s.getBytes)
    while (words.next()) {
      if (m == tokens.length) tokens = java.util.Arrays.copyOf(tokens, m * 2)
      tokens(m) = words.hash
      m += 1
    }
    // A doc with fewer than n tokens (or none) yields the EMPTY set:
    // it participates in no near-dup relation, and candidate
    // generation (explode/banding) naturally skips it. This matches
    // the string-space oracles' range()-based shingling, and avoids
    // the skew bomb of every degenerate doc colliding on one
    // sentinel shingle at corpus scale (ADVICE r12).
    if (m < n) return Array.emptyLongArray
    val out = new Array[Long](m - n + 1)
    var j = 0
    while (j + n <= m) {
      var acc = 0xcbf29ce484222325L
      var k = 0
      while (k < n) { acc = mix64(acc ^ tokens(j + k)); k += 1 }
      out(j) = acc
      j += 1
    }
    sortedDistinct(out)
  }

  /** `xs` sorted ascending with duplicates dropped — the set form of
   * [[wordShingleHashes]] and [[winnow]]. Sorts `xs` in place. */
  private def sortedDistinct(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var k = 0
    var i = 0
    while (i < xs.length) {
      if (k == 0 || xs(i) != xs(k - 1)) { xs(k) = xs(i); k += 1 }
      i += 1
    }
    if (k == xs.length) xs else java.util.Arrays.copyOf(xs, k)
  }

  /** MinHash signature over a shingle-hash set: min over re-keyed
   * mixes, one tight O(numPerm · |hashes|) loop. */
  def minhashSig(hashes: org.apache.spark.sql.catalyst.util.ArrayData, numPerm: Int): Array[Long] = {
    val n = hashes.numElements()
    val sig = new Array[Long](numPerm)
    var p = 0
    while (p < numPerm) {
      var m = Long.MaxValue
      val seed = mix64(p.toLong + 0x5eed)
      var i = 0
      while (i < n) {
        if (!hashes.isNullAt(i)) {
          val v = mix64(hashes.getLong(i) ^ seed)
          if (v < m) m = v
        }
        i += 1
      }
      sig(p) = m
      p += 1
    }
    sig
  }

  /** URL canonicalization (C93, r17; completed r18) — the
   * normalization a crawl pipeline runs BEFORE any dedup: the same
   * page arrives as `HTTP://u@WWW.Site.COM:80/a//./b/../a/?b=2&a=1
   * &utm_source=x#frag` and `https://site.com/a?a=1&b=2`, and
   * byte-hash dedup sees two distinct documents unless URLs collapse
   * to one canonical form first. Rules (each a documented,
   * deterministic choice):
   *  - scheme lowercased; http folds to https iff `foldHttp` (a
   *    PARAMETER since r19, defaulting ON like the drop-list: most
   *    crawl targets serve one document either way, but 80 and 443
   *    CAN serve different content, and over-merge is the dangerous
   *    direction — the same reasoning that made the `ref` drop a
   *    parameter in r17);
   *  - userinfo dropped — the authority splits at its LAST `@`
   *    (RFC 3986 allows `@` inside userinfo, never inside host), so
   *    `user:p@ss@www.site.com` and `site.com` collapse;
   *  - host lowercased, leading `www.` stripped, non-ASCII labels
   *    IDN/punycode-folded (`java.net.IDN.toASCII`; a label the
   *    folder rejects is kept lowercased — total function);
   *  - the scheme's OWN default port stripped (`:80` for http,
   *    `:443` for https — a non-default port like `http://h:443` or
   *    `ftp://h:80` is a genuinely different endpoint and survives).
   *    The port separator is the last `:` AFTER the last `]`, so a
   *    bracketed IPv6 literal's internal colons are never mistaken
   *    for a port (`[2001:db8::443]` keeps its brackets; an
   *    unbracketed IPv6 authority is malformed per RFC 3986 and
   *    normalizes garbage-in-garbage-out, deterministically);
   *  - percent-encoding normalized in path segments, param names,
   *    and param values: `%XX` of an UNRESERVED byte
   *    (ALPHA / DIGIT / `-` `.` `_` `~`) decodes to the character,
   *    any other valid triple uppercases its hex (`%2f` → `%2F`),
   *    and a malformed `%` (truncated / non-hex) is kept verbatim.
   *    Decoding only unreserved bytes can never materialize a
   *    delimiter (`/ ? # & =` are all reserved), so normalization is
   *    applied AFTER splitting on raw delimiters;
   *  - path dot-segments resolved RFC 3986-style after
   *    percent-normalization (`/./` dropped, `/../` pops — a `..`
   *    above root is dropped, so `%2E%2E` cannot escape), duplicate
   *    and trailing slashes dropped, a root-only path collapses to
   *    the bare host;
   *  - fragment dropped; tracking parameters dropped per `drop`
   *    ([[UrlDropList]] — default `utm_*,gclid,fbclid,ref`; the list
   *    is a PARAMETER because `ref` is semantic on plenty of real
   *    sites and an over-merge is the dangerous direction), matched
   *    against the percent-NORMALIZED name so `utm%5Fsource` drops;
   *    surviving query params sorted; an emptied query drops its
   *    `?`.
   * Total function: a string without `://` just lowercases (never
   * throws — crawl frontiers contain garbage). ASCII-ordering note:
   * params sort in UTF-16 code-unit order (≡ byte order on ASCII,
   * the practical URL alphabet). */
  def canonicalUrl(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String =
    canonicalUrl(u, UrlDropList.Default)

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  private def isUnreservedByte(v: Int): Boolean =
    (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') ||
      (v >= '0' && v <= '9') || v == '-' || v == '.' || v == '_' || v == '~'

  /** Percent-encoding normalization of ONE delimiter-free component:
   * decode unreserved `%XX`, uppercase the hex of every other valid
   * triple, keep malformed `%` runs verbatim. */
  private def pctNorm(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (isUnreservedByte(v)) sb.append(v.toChar)
        else sb.append('%')
          .append(java.lang.Character.toUpperCase(s.charAt(i + 1)))
          .append(java.lang.Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def canonicalUrl(u: org.apache.spark.unsafe.types.UTF8String,
      drop: UrlDropList): org.apache.spark.unsafe.types.UTF8String =
    canonicalUrl(u, drop, true)

  def canonicalUrl(u: org.apache.spark.unsafe.types.UTF8String,
      drop: UrlDropList, foldHttp: Boolean): org.apache.spark.unsafe.types.UTF8String = {
    val s0 = u.toString.trim
    val sep = s0.indexOf("://")
    if (sep <= 0)
      return org.apache.spark.unsafe.types.UTF8String.fromString(
        s0.toLowerCase(java.util.Locale.ROOT))
    val scheme0 = s0.substring(0, sep).toLowerCase(java.util.Locale.ROOT)
    val scheme = if (foldHttp && scheme0 == "http") "https" else scheme0
    val rest = s0.substring(sep + 3)
    var aEnd = rest.length
    var j = 0
    while (j < aEnd) {
      val c = rest.charAt(j)
      if (c == '/' || c == '?' || c == '#') aEnd = j else j += 1
    }
    var auth = rest.substring(0, aEnd)
    val at = auth.lastIndexOf('@')
    if (at >= 0) auth = auth.substring(at + 1)
    auth = auth.toLowerCase(java.util.Locale.ROOT)
    // port = last ':' after the last ']' (bracketed IPv6 keeps colons)
    val portSep = {
      val c = auth.lastIndexOf(':')
      if (c > auth.lastIndexOf(']')) c else -1
    }
    var host = if (portSep >= 0) auth.substring(0, portSep) else auth
    var port = if (portSep >= 0) auth.substring(portSep) else ""
    if (host.startsWith("www.")) host = host.substring(4)
    if (host.exists(_ > 127))
      try host = java.net.IDN.toASCII(host)
        .toLowerCase(java.util.Locale.ROOT)
      catch { case _: IllegalArgumentException => () }
    if ((scheme0 == "http" && port == ":80") ||
        (scheme0 == "https" && port == ":443")) port = ""
    val qRaw = rest.indexOf('?', aEnd)
    val fRaw = rest.indexOf('#', aEnd)
    val qPos = if (qRaw < 0) rest.length else qRaw
    val fPos = if (fRaw < 0) rest.length else fRaw
    val path = rest.substring(aEnd, math.min(qPos, fPos))
    val segs = new scala.collection.mutable.ArrayBuffer[String]()
    path.split("/", -1).foreach { raw =>
      if (raw.nonEmpty) {
        val seg = pctNorm(raw)
        if (seg == ".") ()
        else if (seg == "..") { if (segs.nonEmpty) segs.remove(segs.length - 1) }
        else segs += seg
      }
    }
    val pathN = if (segs.isEmpty) "" else segs.mkString("/", "/", "")
    val query = if (qPos < fPos) rest.substring(qPos + 1, fPos) else ""
    val kept = query.split("&").flatMap { p =>
      if (p.isEmpty) None
      else {
        val e = p.indexOf('=')
        val name = pctNorm(if (e < 0) p else p.substring(0, e))
        if (drop.drops(name)) None
        else if (e < 0) Some(name)
        else Some(name + "=" + pctNorm(p.substring(e + 1)))
      }
    }.sorted
    org.apache.spark.unsafe.types.UTF8String.fromString(
      scheme + "://" + host + port + pathN +
        (if (kept.nonEmpty) "?" + kept.mkString("&") else ""))
  }

  /** Deletion neighborhood of a string (C32b, r18) — the FastSS
   * (Bocek et al., 2007) blocking key set for edit-distance-1
   * linkage: the string itself plus every single-character-deletion
   * variant, distinct. Two strings are within edit distance 1 IFF
   * their neighborhoods intersect (equal → share the identity key;
   * substitution → share the both-sides-deleted variant; insert/
   * delete → the longer's deletion is the shorter's identity), so an
   * equi-join on these keys is a COMPLETE candidate generator whose
   * volume tracks true near-duplicate density — unlike fixed-
   * cardinality blocking, whose in-block pair count grows with the
   * square of block size (the sf10 probe measured exactly that).
   * Keys per record: ≤ len+1.
   *
   * Deletions are BY CODE POINT (r19, ADVICE r18): the verify step
   * uses code-point levenshtein, so deleting UTF-16 code units would
   * make a single supplementary-plane substitution (2 units) produce
   * disjoint neighborhoods and break the IFF completeness claim for
   * non-BMP text. Code points also match what SQL `substr`/`len`
   * count in the DuckDB replays. */
  def deletionNeighborhood(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    deletionNeighborhoodK(s, 1)

  /** [[deletionNeighborhood]] generalized to UP TO `k` code-point
   * deletions (C32c, r19 — the full FastSS scheme): every variant of
   * the string with 0..k code points removed, distinct. Two strings
   * are within edit distance k only if their k-neighborhoods
   * intersect (each edit consumes at most one deletion from each
   * side), so the key equi-join stays a COMPLETE candidate generator
   * for any threshold; unlike k = 1 the converse does not hold
   * ("abcd"/"cdab" share the 2-deletion variant "cd" at distance 4),
   * which is why the exact thresholded-levenshtein verify is load-
   * bearing, not belt-and-braces. Keys per record: ≤ Σ_{j≤k} C(len,j)
   * — ~len²/2 at k = 2, still density-bounded where fixed-cardinality
   * blocking is block-size²-bounded. */
  def deletionNeighborhoodK(s: org.apache.spark.unsafe.types.UTF8String,
      k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    val seen = new java.util.LinkedHashSet[String](str.length * (k + 1) + 2)
    seen.add(str): Unit
    var frontier: Array[String] = Array(str)
    var round = 0
    while (round < k && frontier.nonEmpty) {
      val next = new java.util.ArrayList[String](frontier.length * 16)
      var f = 0
      while (f < frontier.length) {
        val t = frontier(f)
        var i = 0
        while (i < t.length) {
          val step = Character.charCount(t.codePointAt(i))
          val v = t.substring(0, i) + t.substring(i + step)
          if (seen.add(v)) next.add(v): Unit
          i += step
        }
        f += 1
      }
      frontier = next.toArray(new Array[String](next.size))
      round += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      out(j) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** [[deletionNeighborhoodK]] with each distinct variant emitted as
   * its 64-bit hash (FNV-1a over UTF-8 bytes + splitmix64 finalizer)
   * instead of the variant STRING (r19 optimization, guide §2.3
   * "shuffle keys and metadata instead of payloads"): the FastSS key
   * equi-join needs only key EQUALITY, and the exact thresholded-
   * levenshtein verify kills every false candidate, so a hash
   * collision can only ADD a candidate pair that the verify then
   * drops — the final linked-pair set is provably identical while
   * the self-join's sort-merge shuffle carries 8-byte keys in place
   * of ~len-char substrings. */
  def deletionNeighborhoodHashedK(s: org.apache.spark.unsafe.types.UTF8String,
      k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    // r20 (VERDICT r19 #3 — this kernel was the measured hot loop of
    // q_record_linkage_del2): direct deletion-set enumeration over the
    // UTF-8 bytes with an incremental FNV state shared across common
    // prefixes — no variant String is ever built, no per-variant
    // getBytes/UTF-8 re-encode, no boxed string hash set. Dedup is by
    // the 64-bit variant hash in a primitive open-address table, which
    // is JOIN-EQUIVALENT to the old dedup-by-string: the join key IS
    // the hash, so two distinct variants colliding would have produced
    // identical key rows anyway, and duplicate keys from one string
    // only duplicate matches the downstream distinct() collapses — the
    // final linked-pair set is unchanged.
    val bytes = s.getBytes
    var n = 0
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xc0) != 0x80) n += 1
      i += 1
    }
    val cpOff = new Array[Int](n + 1)
    var cp = 0
    i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xc0) != 0x80) { cpOff(cp) = i; cp += 1 }
      i += 1
    }
    cpOff(n) = bytes.length
    // upper bound on emissions: sum_{j<=min(k,n)} C(n, j)
    val kk = math.min(k, n)
    var bound = 0L
    var choose = 1L
    var j = 0
    while (j <= kk) {
      bound += choose
      choose = choose * (n - j) / (j + 1)
      j += 1
    }
    // open-address dedup table, power-of-two >= 2x bound; EMPTY slots
    // hold 0 — a genuine 0 hash is tracked by a flag
    var cap = java.lang.Long.highestOneBit(math.max(4L, bound * 2 - 1)) << 1
    if (cap > (1L << 30)) cap = 1L << 30
    val table = new Array[Long](cap.toInt)
    val mask = cap.toInt - 1
    var seenZero = false
    val out = new Array[Long](bound.toInt)
    var outN = 0
    def emit(raw: Long): Unit = {
      val h = mix64(raw)
      if (h == 0L) {
        if (!seenZero) { seenZero = true; out(outN) = 0L; outN += 1 }
      } else {
        var slot = (h ^ (h >>> 32)).toInt & mask
        while (table(slot) != 0L && table(slot) != h) slot = (slot + 1) & mask
        if (table(slot) == 0L) { table(slot) = h; out(outN) = h; outN += 1 }
      }
    }
    // DFS over keep/delete decisions; FNV-1a state h is shared across
    // every variant with the same kept prefix
    def walk(cpIdx: Int, delLeft: Int, h: Long): Unit = {
      if (cpIdx == n) emit(h)
      else {
        var hh = h
        var b = cpOff(cpIdx)
        val end = cpOff(cpIdx + 1)
        while (b < end) {
          hh ^= (bytes(b) & 0xffL)
          hh *= 0x100000001b3L
          b += 1
        }
        walk(cpIdx + 1, delLeft, hh)
        if (delLeft > 0) walk(cpIdx + 1, delLeft - 1, h)
      }
    }
    walk(0, kk, 0xcbf29ce484222325L)
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      java.util.Arrays.copyOf(out, outN))
  }

  /** Container-header metadata (C12d, r17): parse the FORMAT HEADER of
   * a media payload — plain byte arithmetic, no codec libraries — and
   * return [format, width, height, sample_rate, channels] as longs
   * (format: 0 unknown, 1 PNG, 2 WAV/RIFF, 3 JPEG). This is the part
   * of "describe the multimodal column" that survives the no-codec
   * wall: PNG's IHDR, RIFF's fmt chunk, and JPEG's SOF segment are
   * fixed byte layouts, so width/height/sample-rate/channel metadata
   * is extractable — and DuckDB-replayable — without decoding a single
   * pixel or sample. Truncated, corrupt, or alien payloads return
   * format 0 with zero fields; never throws (a 100 TB crawl WILL
   * contain garbage bytes).
   *  - PNG: 8-byte signature, then the IHDR chunk's big-endian
   *    width/height at offsets 16/20.
   *  - WAV: 'RIFF' + 'WAVE', then a CHUNK SCAN (not a fixed offset —
   *    real encoders emit LIST/JUNK chunks before 'fmt ') reading
   *    little-endian channels and sample rate.
   *  - JPEG: 0xFFD8, then a SEGMENT SCAN skipping by each segment's
   *    big-endian length until a start-of-frame marker (0xC0-0xCF
   *    minus DHT 0xC4 / JPG 0xC8 / DAC 0xCC) carrying big-endian
   *    height/width. Spec-allowed 0xFF FILL bytes between segments
   *    are consumed before reading the marker byte, and the
   *    standalone (zero-payload) markers TEM 0x01 and RST0-7
   *    0xD0-0xD7 advance without a length read; EOI 0xD9 before any
   *    SOF ends the scan with zero dims (r18 — a padded-but-valid
   *    file previously misread the pad as a marker length). */
  def headerMeta(p: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = new Array[Long](5)
    def u8(i: Int): Int = p(i) & 0xff
    def be2(i: Int): Long = (u8(i).toLong << 8) | u8(i + 1)
    def be4(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3)
    def le2(i: Int): Long = (u8(i + 1).toLong << 8) | u8(i)
    def le4(i: Int): Long =
      (u8(i + 3).toLong << 24) | (u8(i + 2).toLong << 16) | (u8(i + 1).toLong << 8) | u8(i)
    def ascii(i: Int, s: String): Boolean = {
      var k = 0
      while (k < s.length) { if (u8(i + k) != s.charAt(k)) return false; k += 1 }
      true
    }
    val n = if (p == null) 0 else p.length
    if (n >= 24 && u8(0) == 0x89 && ascii(1, "PNG") && u8(4) == 0x0d &&
        u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a && ascii(12, "IHDR")) {
      out(0) = 1L; out(1) = be4(16); out(2) = be4(20)
    } else if (n >= 12 && ascii(0, "RIFF") && ascii(8, "WAVE")) {
      out(0) = 2L
      var off = 12
      var done = false
      while (!done && off + 8 <= n) {
        val size = le4(off + 4)
        if (ascii(off, "fmt ") && off + 16 <= n && size >= 16) {
          out(4) = le2(off + 10) // channels
          out(3) = le4(off + 12) // sample rate
          done = true
        } else {
          // chunks are word-aligned: odd sizes carry one pad byte
          val step = 8L + size + (size & 1L)
          if (step <= 0L || off + step > Int.MaxValue) done = true
          else off += step.toInt
        }
      }
    } else if (n >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      out(0) = 3L
      var off = 2
      var done = false
      while (!done && off + 2 <= n) {
        if (u8(off) != 0xff) done = true // not a marker: corrupt stream, stop
        else {
          // the spec allows 0xFF FILL bytes between segments: the
          // marker byte is the first non-FF after the run (r18)
          var mo = off + 1
          while (mo < n && u8(mo) == 0xff) mo += 1
          if (mo >= n) done = true
          else {
            val m = u8(mo)
            if ((m & 0xf0) == 0xc0 && m != 0xc4 && m != 0xc8 && m != 0xcc) {
              if (mo + 8 <= n) { out(2) = be2(mo + 4); out(1) = be2(mo + 6) }
              done = true
            } else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
              off = mo + 1 // TEM / RSTn: standalone markers, no length field
            } else if (m == 0xd9 || m == 0x00) {
              done = true // EOI before any SOF, or a stuffed data byte
            } else {
              if (mo + 3 > n) done = true
              else {
                val segLen = be2(mo + 1)
                if (segLen < 2) done = true
                else off = mo + 1 + segLen.toInt
              }
            }
          }
        }
      }
      // a JPEG whose SOF never appeared (truncated) still reports
      // format 3 with zero dims — the signature IS the classification
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Kaplan-Meier truncating ppm fold (B116, r17): given the per-step
   * at-risk and death counts of ONE group aligned and ordered by event
   * time, return the running survival in ppm —
   * s_i = s_{i-1} · (atRisk_i − deaths_i) / atRisk_i with a TRUNCATING
   * integer multiply per step, s before the first step = 1e6. This is
   * the oracle-pinned integer KM semantics (float KM is
   * reduction-order-dependent), executor-side: the fold is a per-group
   * array kernel instead of a driver loop, so survival groups can be
   * user-keyed without driver state — each group's step array stays
   * calendar-sized by construction. Arrays come from one collect_list
   * per group; misaligned lengths are a construction bug → fail loud. */
  def kmFoldPpm(atRisk: org.apache.spark.sql.catalyst.util.ArrayData,
      deaths: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = atRisk.numElements()
    if (deaths.numElements() != n)
      throw new IllegalArgumentException(
        s"km_fold_ppm: misaligned step arrays (${n} at-risk vs ${deaths.numElements()} deaths)")
    val out = new Array[Long](n)
    var s = 1000000L
    var i = 0
    while (i < n) {
      val r = atRisk.getLong(i)
      if (r == 0L)
        throw new IllegalArgumentException(
          s"km_fold_ppm: at-risk count is 0 at step $i — survival is " +
            "undefined there; drop empty steps upstream")
      s = s * (r - deaths.getLong(i)) / r
      out(i) = s
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Jaccard similarity of two sorted distinct long arrays (merge).
   * Empty∪empty → 0.0, NOT the conventional 1.0 (ADVICE r12 family):
   * a shingle-less document participates in no near-dup relation, so
   * two degenerate docs must not count as duplicates — the brute-force
   * exact-dedup queries apply this predicate to ALL pairs with no
   * candidate-blocking step to shield them, and their string-space
   * oracles emit no shingle rows for such docs. */
  def hashJaccard(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    // null elements (reachable via untyped array(NULL) literals) are
    // ignored; sizes count non-null elements only
    var i = 0; var j = 0; var inter = 0; var cntA = 0; var cntB = 0
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { inter += 1; cntA += 1; cntB += 1; i += 1; j += 1 }
        else if (x < y) { cntA += 1; i += 1 }
        else { cntB += 1; j += 1 }
      }
    }
    while (i < na) { if (!a.isNullAt(i)) cntA += 1; i += 1 }
    while (j < nb) { if (!b.isNullAt(j)) cntB += 1; j += 1 }
    val union = cntA + cntB - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Containment of A in B — |A∩B| / |A| — over two sorted distinct
   * long arrays (same merge as [[hashJaccard]]). Asymmetric by design:
   * a short document quoted inside a long one scores ~1.0 here while
   * its Jaccard is tiny (the union is dominated by the long side).
   * Empty A → 0.0, not vacuous containment (same rationale as
   * [[hashJaccard]]): a shingle-less doc must not die to every larger
   * doc under the brute-force containment predicate when its oracle
   * replay emits no shingle rows for it at all. */
  def hashContainment(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0; var cntA = 0
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { inter += 1; cntA += 1; i += 1; j += 1 }
        else if (x < y) { cntA += 1; i += 1 }
        else j += 1
      }
    }
    while (i < na) { if (!a.isNullAt(i)) cntA += 1; i += 1 }
    if (cntA == 0) 0.0 else inter.toDouble / cntA
  }

  private val EmptyUtf8Array = new Array[org.apache.spark.unsafe.types.UTF8String](0)

  // accessor kinds for sortStructArray field comparison
  final val KindLong = 0;  final val KindInt = 1;   final val KindDouble = 2
  final val KindFloat = 3; final val KindString = 4; final val KindBoolean = 5
  final val KindByte = 6;  final val KindShort = 7

  /**
   * Sort an array<struct> by field-order lexicographic comparison —
   * the same total order array_sort's natural struct ordering uses
   * (field by field, null field first, NaN greatest), but with a
   * compiled comparator instead of an interpreted per-comparison
   * lambda eval, which dominates the nest operator's cost on wide
   * children. `kinds` maps each struct ordinal to its accessor kind.
   * TimSort on the extracted row views: stable, O(n log n), and ties
   * are full-struct ties (identical rows), so output order is
   * deterministic.
   */
  def sortStructArray(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      kinds: Array[Int]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val numFields = kinds.length
    val rows = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      rows(i) = if (arr.isNullAt(i)) null else arr.getStruct(i, numFields)
      i += 1
    }
    val cmp = new java.util.Comparator[AnyRef] {
      override def compare(xa: AnyRef, xb: AnyRef): Int = {
        // null elements last (array_sort's documented placement)
        if (xa == null) return if (xb == null) 0 else 1
        if (xb == null) return -1
        val a = xa.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        val b = xb.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        var k = 0
        while (k < numFields) {
          val an = a.isNullAt(k); val bn = b.isNullAt(k)
          if (an && !bn) return -1
          else if (!an && bn) return 1
          else if (!an) {
            val c = kinds(k) match {
              case KindLong    => java.lang.Long.compare(a.getLong(k), b.getLong(k))
              case KindInt     => java.lang.Integer.compare(a.getInt(k), b.getInt(k))
              // Spark's SQL ordering (SQLOrderingUtil): -0.0 == 0.0,
              // NaN greatest — raw Double.compare alone would put
              // -0.0 before 0.0 and diverge from array_sort
              case KindDouble  =>
                val x = a.getDouble(k); val y = b.getDouble(k)
                if (x == y) 0 else java.lang.Double.compare(x, y)
              case KindFloat   =>
                val x = a.getFloat(k); val y = b.getFloat(k)
                if (x == y) 0 else java.lang.Float.compare(x, y)
              case KindString  => a.getUTF8String(k).compareTo(b.getUTF8String(k))
              case KindBoolean => java.lang.Boolean.compare(a.getBoolean(k), b.getBoolean(k))
              case KindByte    => java.lang.Byte.compare(a.getByte(k), b.getByte(k))
              case _           => java.lang.Short.compare(a.getShort(k), b.getShort(k))
            }
            if (c != 0) return c
          }
          k += 1
        }
        0
      }
    }
    java.util.Arrays.sort(rows, cmp)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  /** The whitespace span rule, the one tokenizer of [[wordNgrams]],
   * [[wordChunksStrided]] and [[gopherTopNgramPpm]]: tokens are the
   * maximal runs of bytes other than the four literal whitespace bytes
   * (space, tab, LF, CR — NOT \s, whose definition varies across regex
   * engines), kept byte for byte (no lowering), so any engine that
   * splits on `[ \t\n\r]+` reproduces them exactly. Token t is
   * bytes [bounds(2t), bounds(2t+1)). */
  private final class WhitespaceSpans(s: org.apache.spark.unsafe.types.UTF8String) {
    private val bytes = s.getBytes
    private var bounds = new Array[Int](128) // start, end pairs
    var count = 0
    locally {
      var i = 0
      var tokStart = -1
      while (i <= bytes.length) {
        val ws = i == bytes.length || {
          val c = bytes(i)
          c == ' ' || c == '\t' || c == '\n' || c == '\r'
        }
        if (!ws && tokStart < 0) tokStart = i
        else if (ws && tokStart >= 0) {
          if (2 * count == bounds.length) bounds = java.util.Arrays.copyOf(bounds, 4 * count)
          bounds(2 * count) = tokStart; bounds(2 * count + 1) = i
          count += 1; tokStart = -1
        }
        i += 1
      }
    }

    /** `n` windows of up to `window` tokens, window c starting at token
     * c·stride and cut short at the last token; each window's tokens
     * joined by single spaces. */
    def windows(window: Int, stride: Int, n: Int): Array[org.apache.spark.unsafe.types.UTF8String] = {
      if (n <= 0) return EmptyUtf8Array
      val out = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var c = 0
      while (c < n) {
        val lo = c * stride
        val hi = math.min(lo + window, count)
        var len = hi - lo - 1
        var t = lo
        while (t < hi) { len += bounds(2 * t + 1) - bounds(2 * t); t += 1 }
        val buf = new Array[Byte](len)
        var off = 0
        t = lo
        while (t < hi) {
          if (t > lo) { buf(off) = ' '; off += 1 }
          val tl = bounds(2 * t + 1) - bounds(2 * t)
          System.arraycopy(bytes, bounds(2 * t), buf, off, tl)
          off += tl
          t += 1
        }
        out(c) = org.apache.spark.unsafe.types.UTF8String.fromBytes(buf)
        c += 1
      }
      out
    }

    /** Every full window of `n` consecutive tokens, at stride 1. */
    def ngrams(n: Int): Array[org.apache.spark.unsafe.types.UTF8String] =
      windows(n, 1, count - n + 1)
  }

  /**
   * Word n-grams of raw text in one pass: the whitespace span rule
   * ([[WhitespaceSpans]]), each n consecutive tokens joined with a
   * single space. Texts shorter than n words yield no grams. Replaces
   * a split→filter→transform→slice→concat_ws tree of higher-order
   * functions that Spark always evaluates interpreted.
   */
  def wordNgrams(s: org.apache.spark.unsafe.types.UTF8String, n: Int): Array[org.apache.spark.unsafe.types.UTF8String] =
    new WhitespaceSpans(s).ngrams(n)

  /** Overlapping (strided) word windows: chunks of `window` tokens
   * starting every `stride` tokens (stride < window ⇒ consecutive
   * chunks share window−stride tokens — the context-window chunker
   * for training/RAG pipelines, where overlap preserves boundary
   * context; stride == window gives the disjoint segments of
   * segment-level dedup). The whitespace span rule, so a
   * `regexp_split_to_array(text,'[ \t\n\r]+')` SQL mirror
   * reproduces it exactly; the short tail window is included. */
  def wordChunksStrided(s: org.apache.spark.unsafe.types.UTF8String,
      window: Int, stride: Int): Array[org.apache.spark.unsafe.types.UTF8String] = {
    val spans = new WhitespaceSpans(s)
    spans.windows(window, stride, (spans.count + stride - 1) / stride)
  }

  /**
   * Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03
   * "Winnowing: Local Algorithms for Document Fingerprinting"): hash
   * every k-gram of the string, then keep the minimum hash of each
   * sliding window of w k-grams. Returns the distinct sorted sample —
   * a compact, position-robust signature for near-dup detection.
   */
  def winnow(s: org.apache.spark.unsafe.types.UTF8String, k: Int, w: Int): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length - k + 1
    if (n <= 0) return Array(fnv64(s))
    // rolling k-gram hashes (polynomial base-257 with wraparound)
    val grams = new Array[Long](n)
    var h = 0L
    var pow = 1L
    var i = 0
    while (i < k) { h = h * 257L + (bytes(i) & 0xffL); if (i < k - 1) pow *= 257L; i += 1 }
    grams(0) = mix64(h)
    i = 1
    while (i < n) {
      h = (h - (bytes(i - 1) & 0xffL) * pow) * 257L + (bytes(i + k - 1) & 0xffL)
      grams(i) = mix64(h)
      i += 1
    }
    if (n <= w) return Array(grams.min)
    val picked = new Array[Long](n - w + 1)
    i = 0
    while (i + w <= n) {
      var m = grams(i)
      var j = i + 1
      while (j < i + w) { if (grams(j) < m) m = grams(j); j += 1 }
      picked(i) = m
      i += 1
    }
    sortedDistinct(picked)
  }

  // Unicode corpus normalization kernel. One static per-row call so
  // the NormalizeText expression stays inside whole-stage codegen; the
  // pure-ASCII fast path (the overwhelming majority of a web corpus)
  // costs one byte scan and allocates nothing beyond the lowered copy.
  private val WsRun = java.util.regex.Pattern.compile("[ \\t\\n\\u000B\\f\\r]+")
  private val Marks = java.util.regex.Pattern.compile("\\p{Mn}+")

  /** normalizeText(s, form, stripAccents, caseFold, collapseWs):
   * Unicode-normalize (form: 0=NFC 1=NFD 2=NFKC 3=NFKD), optionally
   * strip combining marks (NFD → drop Mn → recompose NFC), lowercase
   * (root locale), collapse ASCII whitespace runs to single spaces and
   * trim. Order matters and is part of the contract: normalize →
   * strip → fold → collapse, the order the oracle replays. */
  def normalizeText(s: org.apache.spark.unsafe.types.UTF8String, form: Int,
      stripAccents: Boolean, caseFold: Boolean,
      collapseWs: Boolean): org.apache.spark.unsafe.types.UTF8String = {
    val bytes = s.getBytes
    var ascii = true
    var i = 0
    while (ascii && i < bytes.length) { if (bytes(i) < 0) ascii = false; i += 1 }
    var str = s.toString
    if (!ascii) {
      val f = form match {
        case 0 => java.text.Normalizer.Form.NFC
        case 1 => java.text.Normalizer.Form.NFD
        case 2 => java.text.Normalizer.Form.NFKC
        case _ => java.text.Normalizer.Form.NFKD
      }
      str = java.text.Normalizer.normalize(str, f)
      if (stripAccents) {
        val decomposed = java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFD)
        val bare = Marks.matcher(decomposed).replaceAll("")
        str = java.text.Normalizer.normalize(bare, java.text.Normalizer.Form.NFC)
      }
    }
    if (caseFold) str = str.toLowerCase(java.util.Locale.ROOT)
    if (collapseWs) str = WsRun.matcher(str).replaceAll(" ").trim
    org.apache.spark.unsafe.types.UTF8String.fromString(str)
  }

  // Count-Min probe statics: integral keys take the aggregate's addLong
  // path, string keys its addBinary(UTF-8) path — the probe MUST hash
  // exactly like CountMinSketchAgg.update or every estimate is garbage.
  def cmsCountLong(cms: org.apache.spark.util.sketch.CountMinSketch, v: Long): Long =
    cms.estimateCount(java.lang.Long.valueOf(v))
  def cmsCountString(cms: org.apache.spark.util.sketch.CountMinSketch,
      s: org.apache.spark.unsafe.types.UTF8String): Long =
    cms.estimateCount(s.getBytes)

  /** commonPrefixLen(a, b): length in CODE POINTS of the longest
   * common prefix of two strings. Compares UTF-16 units then backs
   * off a trailing half surrogate pair so the count is valid code
   * points (matching character-indexed engines). */
  def commonPrefixLen(a: org.apache.spark.unsafe.types.UTF8String,
      b: org.apache.spark.unsafe.types.UTF8String): Long = {
    val sa = a.toString
    val sb = b.toString
    val n = math.min(sa.length, sb.length)
    var i = 0
    while (i < n && sa.charAt(i) == sb.charAt(i)) i += 1
    if (i > 0 && Character.isHighSurrogate(sa.charAt(i - 1))) i -= 1
    sa.codePointCount(0, i).toLong
  }

  /** cdcChunks(text, w, div, rem): content-defined chunk split — the
   * Rabin/FastCDC idea as a deterministic kernel. A boundary is cut
   * after every w-code-point window whose polynomial rolling hash
   *   H = Σ cp[j]·257^(w−1−j)  mod 1e9+7
   * satisfies H mod div == rem, so boundaries depend ONLY on the w
   * code points before them: inserting or deleting text re-chunks at
   * most the chunks it touches, and every chunk after the edit
   * re-aligns — the property that lets chunk-level dedup catch
   * SHIFTED duplication that fixed-stride segmentation misses.
   * O(n) per document (one rolling pass), called statically from
   * generated code. Code-point indexed (not bytes) so the oracle's
   * character arithmetic matches on non-ASCII too. Texts shorter
   * than w (or empty) are one chunk; a boundary flush with the text
   * end is dropped (chunks are never empty). Expected chunk length
   * is `div` code points; min/max bounds are deliberately NOT
   * enforced (they would make boundary acceptance depend on the
   * previous cut — sequential state the closed replay can't share). */
  def cdcChunks(s: org.apache.spark.unsafe.types.UTF8String,
      w: Int, div: Long, rem: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
    val M = 1000000007L
    val B = 257L
    val str = s.toString
    val len = str.length
    // code points + the char offset where each begins (offs(n) = len)
    val cps = new Array[Int](len + 1)
    val offs = new Array[Int](len + 1)
    var n = 0
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(n) = cp; offs(n) = i
      n += 1; i += Character.charCount(cp)
    }
    offs(n) = len
    if (n < w || n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(str)))
    var pw = 1L
    i = 1
    while (i < w) { pw = pw * B % M; i += 1 }
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var h = 0L
    i = 0
    while (i < w) { h = (h * B + cps(i)) % M; i += 1 }
    if (h % div == rem && w < n) cuts += w
    var p = 1
    while (p + w <= n) {
      h = (h - cps(p - 1) * pw % M + M) % M
      h = (h * B + cps(p + w - 1)) % M
      if (h % div == rem && p + w < n) cuts += (p + w)
      p += 1
    }
    val out = new Array[Any](cuts.length + 1)
    var prev = 0
    i = 0
    while (i < cuts.length) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(
        str.substring(offs(prev), offs(cuts(i))))
      prev = cuts(i); i += 1
    }
    out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(
      str.substring(offs(prev), len))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Number of `breaks` elements <= v (breaks ascending-sorted):
   * the bucket index of v among n+1 half-open bands
   * (-inf, b0), [b0, b1), ... [bn-1, +inf) — a value equal to a
   * break belongs to the band STARTING at it. Branch-light binary
   * search — called per row from generated code. */
  def searchSorted(breaks: Array[Long], v: Long): Int = {
    var lo = 0
    var hi = breaks.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (breaks(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** y = M·(x − mean) for a row-major k×dim matrix — the PCA/whitening
   * projection kernel (C81). One O(k·dim) loop per row inside
   * whole-stage codegen; the matrix and mean embed in the plan as
   * reference objects (the HyperplaneSig precedent). */
  def affineProject(v: org.apache.spark.sql.catalyst.util.ArrayData,
      matrix: Array[Double], mean: Array[Double], dim: Int,
      isFloat: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    // fail-loud dim check (ADVICE r15): corpus vectors pass through
    // GramAggregate's check at fit time but PROBE vectors reach this
    // kernel unchecked — a truncated projection of a malformed probe
    // would be a silently wrong shortlist, the worst failure mode
    require(v.numElements() == dim,
      s"affine_project: vector has ${v.numElements()} elements, expected $dim")
    val k = matrix.length / dim
    val n = dim
    val out = new Array[Double](k)
    var c = 0
    while (c < k) {
      var dot = 0.0
      val off = c * dim
      var i = 0
      while (i < n) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        dot += (x - mean(i)) * matrix(off + i)
        i += 1
      }
      out(c) = dot
      c += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Exact micro-unit quantization: floor(x·scale + 0.5) — round-half-
   * up toward +inf, the cross-engine-stable rounding (DuckDB replays
   * it with the same floor form; plain round() differs at .5 between
   * engines). */
  def microQuantize(x: Double, scale: Long): Long =
    math.floor(x * scale + 0.5).toLong

  /** Gopher-style "fraction of characters in the most frequent word
   * n-gram", for every n in [minN, maxN], as truncating ppm:
   * topCount(n) × charLen(topGram(n)) × 10⁶ / charLen(text). One
   * pass per row — tokenize once (the whitespace span rule,
   * byte-preserving), then one hash-count per n over
   * sliding space-joined grams. Tie-break among equal counts =
   * lexicographically smallest gram (UTF8String binary order ==
   * SQL lexicographic for ASCII — the C4b corpus precondition).
   * Texts with fewer than n tokens (or zero chars) contribute 0. */
  def gopherTopNgramPpm(s: org.apache.spark.unsafe.types.UTF8String,
      minN: Int, maxN: Int): Array[Long] = {
    val totalChars = s.numChars().toLong
    val out = new Array[Long](maxN - minN + 1)
    if (totalChars == 0L) return out
    val spans = new WhitespaceSpans(s)
    var n = minN
    while (n <= maxN) {
      val grams = spans.ngrams(n)
      if (grams.nonEmpty) {
        val counts = new java.util.HashMap[
          org.apache.spark.unsafe.types.UTF8String, Int](grams.length * 2)
        var i = 0
        while (i < grams.length) {
          counts.merge(grams(i), 1, (a, b) => a + b): Unit
          i += 1
        }
        var bestCnt = 0
        var bestGram: org.apache.spark.unsafe.types.UTF8String = null
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue
          if (c > bestCnt ||
            (c == bestCnt && e.getKey.compareTo(bestGram) < 0)) {
            bestCnt = c; bestGram = e.getKey
          }
        }
        out(n - minN) =
          bestCnt.toLong * bestGram.numChars().toLong * 1000000L / totalChars
      }
      n += 1
    }
    out
  }

  /** Hashing-trick linear classifier inference (C90): score =
   * Σ over token OCCURRENCES of w(bucket(token)) where bucket =
   * fnv1a64(token) mod `buckets` and the weight of a bucket is a
   * deterministic seeded function (mix64(bucket ⊕ seed) mod 2001 −
   * 1000 — an integer in [−1000, 1000]). One pass per row, no
   * vocabulary broadcast, no shuffle: exactly the fastText-style
   * quality-filter serving shape, where the deterministic weight
   * function stands in for a trained weight array (swapping trained
   * weights in = replacing this function with an array lookup; the
   * hashing, folding, and scoring plumbing is identical and is what
   * the cross-engine oracle checks). Tokens follow the lowered word
   * rule ([[LoweredWords]]), so the sqlTokenCtes replay applies. */
  def hashedLinearScore(s: org.apache.spark.unsafe.types.UTF8String,
      buckets: Long, seed: Long): Long = {
    var score = 0L
    val words = new LoweredWords(s.getBytes)
    while (words.next()) {
      val b = java.lang.Long.remainderUnsigned(words.hash, buckets)
      score += java.lang.Long.remainderUnsigned(mix64(b ^ seed), 2001L) - 1000L
    }
    score
  }
}
