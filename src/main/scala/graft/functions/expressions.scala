package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the dedup/fingerprint primitives.
 * Each generates a direct static call into [[HashOps]], so they stay
 * inside whole-stage codegen (no UDF serialization, no Row boxing) —
 * the hot path of a 100 TB dedup pass is exactly these per-row hashes.
 */

/** normalize_text(s) → string: Unicode normalization + optional
 * accent-strip / case-fold / whitespace-collapse, the canonical
 * first stage of a corpus-cleaning pipeline. A per-row regex/ICU-free
 * kernel ([[HashOps.normalizeText]]) with an ASCII fast path, called
 * statically from generated code — the normalization pass over 100 TB
 * of text stays inside whole-stage codegen. form: 0=NFC 1=NFD 2=NFKC
 * 3=NFKD. */
case class NormalizeText(child: Expression, form: Int, stripAccents: Boolean,
    caseFold: Boolean, collapseWs: Boolean) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.normalizeText(input.asInstanceOf[UTF8String], form, stripAccents,
      caseFold, collapseWs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashOps.normalizeText($c, $form, $stripAccents, $caseFold, $collapseWs)")
  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(newChild)
}

/** Element-type input check shared by the hash expressions: ArrayData
 * accessors (getLong/getUTF8String) read at a fixed byte width, so a
 * mistyped array (e.g. array<int> where array<long> is required) would
 * produce silently wrong hashes, not an error — reject at analysis. */
private[functions] object ElementTypeCheck {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  def check(name: String, required: DataType, types: Seq[DataType]): TypeCheckResult = {
    val bad = types.exists {
      case ArrayType(et, _) if et == required => false
      // untyped literals, per Spark builtin convention: NULL evaluates
      // to NULL (nullSafeEval is skipped), array() has no elements to
      // misread — both are width-safe
      case NullType | ArrayType(NullType, _) => false
      case _ => true
    }
    if (bad)
      TypeCheckResult.TypeCheckFailure(
        s"$name requires array<${required.sql.toLowerCase}> inputs, got ${types.map(_.sql).mkString(", ")}")
    else TypeCheckResult.TypeCheckSuccess
  }
}

/** simhash64(tokens: array<string>) → long */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ElementTypeCheck.check("simhash64", StringType, Seq(child.dataType))
  override protected def nullSafeEval(input: Any): Any =
    HashOps.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 = copy(newChild)
}

/** simhash_text(text: string) → long — tokenizes internally (same
 * tokenizer as WordShingleHashes); one pass, no token array. */
case class SimHashText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.simhashText(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.simhashText($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHashText = copy(newChild)
}

/** fingerprint64(text: string) → long (FNV-1a over UTF-8). */
case class Fingerprint64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.fnv64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.fnv64($c)")
  override protected def withNewChildInternal(newChild: Expression): Fingerprint64 = copy(newChild)
}

/** winnow(text: string, k, w) → array<long> — winnowed k-gram sample. */
case class Winnow(child: Expression, k: Int, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashOps.winnow(input.asInstanceOf[UTF8String], k, w))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.HashOps.winnow($c, $k, $w))")
  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

/** cdc_chunks(text, w, div, rem) → array<string>: content-defined
 * chunk split on rolling-hash boundaries ([[HashOps.cdcChunks]]) —
 * chunk edges follow CONTENT, not offsets, so an insertion re-aligns
 * every later chunk and chunk-level dedup catches shifted duplicate
 * passages. One O(n) rolling pass per row inside whole-stage codegen. */
case class CdcChunks(child: Expression, w: Int, div: Long, rem: Long)
    extends UnaryExpression {
  require(w > 0 && div > 0 && rem >= 0 && rem < div,
    s"cdc_chunks: need w > 0 and 0 <= rem < div, got w=$w div=$div rem=$rem")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashOps.cdcChunks(input.asInstanceOf[UTF8String], w, div, rem)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.cdcChunks($c, $w, ${div}L, ${rem}L)")
  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

/** sort_struct_array(arr) → arr sorted by natural field-order struct
 * comparison — array_sort semantics with a compiled comparator (the
 * interpreted lambda eval is the nest operator's dominant cost on
 * wide children). Supported field types: integral, floating, string,
 * boolean, date, timestamp; anything else fails analysis so callers
 * can fall back to array_sort. */
case class SortStructArray(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def dataType: DataType = child.dataType
  private def kindOf(dt: DataType): Option[Int] = dt match {
    case LongType | TimestampType | TimestampNTZType => Some(HashOps.KindLong)
    case IntegerType | DateType => Some(HashOps.KindInt)
    case DoubleType => Some(HashOps.KindDouble)
    case FloatType => Some(HashOps.KindFloat)
    case StringType => Some(HashOps.KindString)
    case BooleanType => Some(HashOps.KindBoolean)
    case ByteType => Some(HashOps.KindByte)
    case ShortType => Some(HashOps.KindShort)
    case _ => None
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.fields.forall(f => kindOf(f.dataType).isDefined) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sort_struct_array requires array<struct> of flat comparable fields, got ${other.sql}")
  }
  private lazy val kinds: Array[Int] = child.dataType match {
    case ArrayType(st: StructType, _) => st.fields.map(f => kindOf(f.dataType).get)
    case _ => Array.empty
  }
  override protected def nullSafeEval(input: Any): Any =
    HashOps.sortStructArray(input.asInstanceOf[ArrayData], kinds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kinds", kinds, "int[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.sortStructArray($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): SortStructArray =
    copy(child = newChild)
}

/** lang_id(text) → language code by marker-word profile (CJK share →
 * 'zh', no hits → 'und'). One codegen'd pass — the column-function
 * formulation re-evaluates an interpreted words() filter per
 * language. */
case class LangId(child: Expression, langs: Seq[(String, Seq[String])])
    extends UnaryExpression {
  override def dataType: DataType = StringType
  // sorted per-language marker hash sets, hashed like the tokenizer
  private lazy val markerHashes: Array[Array[Long]] = langs.map { case (_, ws) =>
    ws.map(w => HashOps.fnv64(UTF8String.fromString(w.toLowerCase))).sorted.toArray
  }.toArray
  private lazy val codes: Array[UTF8String] =
    langs.map(l => UTF8String.fromString(l._1)).toArray
  override protected def nullSafeEval(input: Any): Any =
    HashOps.langId(input.asInstanceOf[UTF8String], markerHashes, codes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("markers", markerHashes, "long[][]")
    val c = ctx.addReferenceObj("codes", codes, "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, x => s"graft.functions.HashOps.langId($x, $m, $c)")
  }
  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

/** word_ngrams(text, n) → array<string> of space-joined word n-grams
 * (literal-whitespace split; see HashOps.wordNgrams). */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"word_ngrams requires n >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashOps.wordNgrams(input.asInstanceOf[UTF8String], n))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.HashOps.wordNgrams($c, $n))")
  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

/** gopher_top_ppm(text, minN, maxN) → array<long> of the Gopher
 * repetition signal "ppm of chars in the most frequent word n-gram"
 * for each n in [minN, maxN] (see HashOps.gopherTopNgramPpm) — one
 * codegen'd pass per row, no explode/shuffle: the per-doc quality
 * FILTER form of the signal, where C23's per-source rates are the
 * audit form. */
case class GopherTopPpm(child: Expression, minN: Int, maxN: Int)
    extends UnaryExpression {
  require(minN >= 1 && maxN >= minN,
    s"gopher_top_ppm requires 1 <= minN <= maxN, got ($minN, $maxN)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashOps.gopherTopNgramPpm(
      input.asInstanceOf[UTF8String], minN, maxN))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.HashOps.gopherTopNgramPpm($c, $minN, $maxN))")
  override protected def withNewChildInternal(newChild: Expression): GopherTopPpm =
    copy(child = newChild)
}

/** hashed_linear_score(text, buckets, seed) → long: hashing-trick
 * linear classifier inference in one codegen'd pass (see
 * HashOps.hashedLinearScore) — the fastText-style quality-filter
 * serving shape with a deterministic seeded weight function standing
 * in for the trained weight array. */
case class HashedLinearScore(child: Expression, buckets: Long, seed: Long)
    extends UnaryExpression {
  require(buckets >= 2, s"hashed_linear_score requires buckets >= 2, got $buckets")
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.hashedLinearScore(input.asInstanceOf[UTF8String], buckets, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.hashedLinearScore($c, ${buckets}L, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): HashedLinearScore =
    copy(child = newChild)
}

/** word_chunks_strided(text, window, stride) → array<string> of
 * OVERLAPPING window-word chunks every stride words (the
 * context-window chunker; see HashOps.wordChunksStrided). */
case class WordChunksStrided(child: Expression, window: Int, stride: Int)
    extends UnaryExpression {
  require(window >= 1 && stride >= 1,
    s"word_chunks_strided requires window >= 1 and stride >= 1, got ($window, $stride)")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashOps.wordChunksStrided(input.asInstanceOf[UTF8String], window, stride))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.HashOps.wordChunksStrided($c, $window, $stride))")
  override protected def withNewChildInternal(newChild: Expression): WordChunksStrided =
    copy(child = newChild)
}

/** word_shingle_hashes(text, n) → sorted distinct array<long>. */
case class WordShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashOps.wordShingleHashes(input.asInstanceOf[UTF8String], n))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.HashOps.wordShingleHashes($c, $n))")
  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
}

/** minhash_sig(shingle_hashes, numPerm) → array<long>. */
case class MinHashSig(child: Expression, numPerm: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ElementTypeCheck.check("minhash_sig", LongType, Seq(child.dataType))
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashOps.minhashSig(input.asInstanceOf[ArrayData], numPerm))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.HashOps.minhashSig($c, $numPerm))")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** hash_jaccard(a, b) over sorted distinct long arrays → double. */
case class HashJaccard(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ElementTypeCheck.check("hash_jaccard", LongType, Seq(left.dataType, right.dataType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.hashJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashOps.hashJaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HashJaccard =
    copy(left = l, right = r)
}

/** header_meta(payload) → array<bigint>
 * [format, width, height, sample_rate, channels]: container-header
 * metadata from a binary media payload — PNG IHDR / RIFF fmt chunk /
 * JPEG SOF segment parsed as plain byte arithmetic (see
 * HashOps.headerMeta). No codec, never throws: garbage classifies as
 * format 0. */
case class HeaderMeta(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == BinaryType || child.dataType == NullType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"header_meta requires a binary payload, got ${child.dataType.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    HashOps.headerMeta(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.headerMeta($c)")
  override protected def withNewChildInternal(newChild: Expression): HeaderMeta =
    copy(newChild)
}

/** deletion_neighborhood(s, k) → array<string>: the FastSS blocking
 * keys for edit-distance-≤k linkage (see
 * HashOps.deletionNeighborhoodK — the string plus every variant with
 * up to k code-point deletions, distinct; k = 1 is the classic
 * dist-1 IFF generator, k ≥ 2 a complete-but-not-tight one).
 * Codegen'd; the key-generation pass stays in whole-stage codegen
 * instead of an interpreted transform/sequence HOF tree. */
case class DeletionNeighborhood(child: Expression, k: Int = 1)
    extends UnaryExpression {
  require(k >= 1, s"deletion_neighborhood: k must be >= 1, got $k")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType || child.dataType == NullType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"deletion_neighborhood requires a string, got ${child.dataType.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    HashOps.deletionNeighborhoodK(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.deletionNeighborhoodK($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): DeletionNeighborhood =
    copy(child = newChild)
}

/** deletion_neighborhood_hashed(s, k) → array<bigint>: the FastSS
 * blocking keys as 64-BIT HASHES of the deletion variants (see
 * HashOps.deletionNeighborhoodHashedK — r19 optimization): the key
 * equi-join needs only equality and the levenshtein verify kills
 * collision candidates, so the join shuffles 8-byte keys instead of
 * variant strings. Codegen'd. */
case class DeletionNeighborhoodHashed(child: Expression, k: Int = 1)
    extends UnaryExpression {
  require(k >= 1, s"deletion_neighborhood_hashed: k must be >= 1, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType || child.dataType == NullType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"deletion_neighborhood_hashed requires a string, got ${child.dataType.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    HashOps.deletionNeighborhoodHashedK(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.deletionNeighborhoodHashedK($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): DeletionNeighborhoodHashed =
    copy(child = newChild)
}

/** canonical_url(url[, dropParams]) → string: crawl-pipeline URL
 * canonicalization (see HashOps.canonicalUrl — scheme fold,
 * userinfo strip, host/port/www/IDN normalization, percent-encoding
 * normalization, path dot-segment resolution, fragment and
 * tracking-param drop, param sort). `dropParams` is the
 * [[graft.functions.UrlDropList]] spec, compiled ONCE driver-side
 * and shipped as a codegen reference object — never re-parsed per
 * row. Total and codegen'd; garbage lowercases instead of
 * throwing. */
case class CanonicalUrl(child: Expression,
    dropParams: String = UrlDropList.DefaultSpec,
    foldHttp: Boolean = true) extends UnaryExpression {
  @transient private lazy val drop = new UrlDropList(dropParams)
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType || child.dataType == NullType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"canonical_url requires a string url, got ${child.dataType.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    HashOps.canonicalUrl(input.asInstanceOf[UTF8String], drop, foldHttp)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dropRef = ctx.addReferenceObj("urlDrop", drop,
      classOf[graft.functions.UrlDropList].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.canonicalUrl($c, $dropRef, $foldHttp)")
  }
  override protected def withNewChildInternal(newChild: Expression): CanonicalUrl =
    copy(child = newChild)
}

/** km_fold_ppm(at_risk, deaths) → array<bigint>: the Kaplan-Meier
 * truncating integer survival fold over one group's time-ordered step
 * arrays (see HashOps.kmFoldPpm). Codegen'd per-group kernel — the
 * sequential product that used to fold driver-side runs inside the
 * plan, so survival groups can be user-keyed. */
case class KmFoldPpm(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ElementTypeCheck.check("km_fold_ppm", LongType, Seq(left.dataType, right.dataType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.kmFoldPpm(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashOps.kmFoldPpm($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmFoldPpm =
    copy(left = l, right = r)
}

/** common_prefix_len(a, b) → bigint: code-point length of the longest
 * common prefix of two strings. With a group's lexicographic MIN and
 * MAX as arguments this is the group-wide common prefix (every member
 * sorts between them), which turns "longest shared prefix per bucket"
 * into two ordinary min/max aggregates + one codegen'd comparison —
 * no pairwise scan. */
case class CommonPrefixLen(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val ok = Seq(left.dataType, right.dataType)
      .forall(t => t == StringType || t == NullType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"common_prefix_len requires string inputs, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.commonPrefixLen(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashOps.commonPrefixLen($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CommonPrefixLen =
    copy(left = l, right = r)
}

/** hash_containment(a, b) = |A∩B| / |A| over sorted distinct long
 * arrays → double (the asymmetric dedup verify — see
 * HashOps.hashContainment). */
case class HashContainment(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ElementTypeCheck.check("hash_containment", LongType, Seq(left.dataType, right.dataType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.hashContainment(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashOps.hashContainment($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HashContainment =
    copy(left = l, right = r)
}

/** Numeric-vector input check shared by the vector expressions: both
 * (or the only) operand must be array<float> or array<double>, and a
 * binary pair must agree — getFloat/getDouble read at different byte
 * widths, so a silent mismatch would produce garbage, not an error. */
private[functions] object VectorTypeCheck {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  def check(name: String, types: Seq[DataType]): TypeCheckResult = {
    val bad = types.exists {
      case ArrayType(FloatType | DoubleType, _) => false
      case _ => true
    }
    if (bad)
      TypeCheckResult.TypeCheckFailure(
        s"$name requires array<float> or array<double> inputs, got ${types.map(_.sql).mkString(", ")}")
    else if (types.distinct.size > 1 &&
      types.map(_.asInstanceOf[ArrayType].elementType).distinct.size > 1)
      TypeCheckResult.TypeCheckFailure(
        s"$name requires both vectors to share an element type, got ${types.map(_.sql).mkString(", ")}")
    else TypeCheckResult.TypeCheckSuccess
  }
}

/** cosine_sim(a, b) over array<float|double> → double. */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorTypeCheck.check("cosine_sim", Seq(left.dataType, right.dataType))
  private lazy val isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashOps.cosine($a, $b, $isFloat)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** array_field_sum(arr, 'field') → bigint — sum of one BIGINT struct
 * field over an array<struct> column. The declarative alternatives
 * both lose at scale: `aggregate()` (a higher-order function) runs
 * interpreted per element, and explode→groupBy re-shuffles rows that
 * are already grouped. This stays inside whole-stage codegen and reads
 * the field directly from the unsafe array. */
case class ArrayFieldSum(child: Expression, field: String) extends UnaryExpression
    with org.apache.spark.sql.catalyst.SQLConfHelper {
  override def dataType: DataType = LongType
  // honor spark.sql.caseSensitive like built-in struct field access
  private def findField(st: StructType): Option[StructField] =
    st.fields.find(f => conf.resolver(f.name, field))
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(st: StructType, _) => findField(st) match {
        case Some(f) if f.dataType == LongType => TypeCheckSuccess
        case Some(f) => TypeCheckFailure(
          s"array_field_sum field '$field' must be BIGINT, got ${f.dataType.sql}")
        case None => TypeCheckFailure(
          s"array_field_sum: no field '$field' in ${st.fieldNames.mkString(", ")}")
      }
      case NullType => TypeCheckSuccess // untyped NULL literal → NULL
      case other => TypeCheckFailure(
        s"array_field_sum requires array<struct>, got ${other.sql}")
    }
  }
  // resolved only after the type check passes; (0,0) placates NullType
  private lazy val (ordinal, numFields) = child.dataType match {
    case ArrayType(st: StructType, _) =>
      (st.fields.indexWhere(f => conf.resolver(f.name, field)), st.length)
    case _ => (0, 0)
  }
  override protected def nullSafeEval(input: Any): Any =
    HashOps.sumStructField(input.asInstanceOf[ArrayData], ordinal, numFields)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.sumStructField($c, $ordinal, $numFields)")
  override protected def withNewChildInternal(newChild: Expression): ArrayFieldSum =
    copy(child = newChild)
}

/** vec_norm(a) over array<float|double> → double L2 norm. */
case class VecNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorTypeCheck.check("vec_norm", Seq(child.dataType))
  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.l2norm(input.asInstanceOf[ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.l2norm($c, $isFloat)")
  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
}

/** hyperplane_sig(vec) with a fixed plane matrix → long sign bits. */
case class HyperplaneSig(child: Expression, planes: Array[Double], dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorTypeCheck.check("hyperplane_sig", Seq(child.dataType))
  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.hyperplaneSig(input.asInstanceOf[ArrayData], planes, dim, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.hyperplaneSig($c, $ref, $dim, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** signed_projection(vec) against a plan-embedded ±1 sign matrix →
 * array<long> of k exact micro-unit projections (the JL sketch
 * kernel). The matrix rides the plan as a reference object like
 * HyperplaneSig's planes; the O(k·d) per-row work runs inside
 * whole-stage codegen. */
case class SignedProjection(child: Expression, signs: Array[Long], dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorTypeCheck.check("signed_projection", Seq(child.dataType))
  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.signedProjection(input.asInstanceOf[ArrayData], signs, dim, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signs", signs, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.signedProjection($c, $ref, $dim, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): SignedProjection =
    copy(child = newChild)
}

/** affine_project(vec): y = M·(x − mean) for a row-major k×dim
 * matrix — the PCA projection / whitening kernel (C81). Matrix and
 * mean are bounded driver state embedded as reference objects
 * (HyperplaneSig precedent); the O(k·d) per-row loop runs inside
 * whole-stage codegen, no shuffle, no broadcast table. */
case class AffineProject(child: Expression, matrix: Array[Double],
    mean: Array[Double], dim: Int)
    extends UnaryExpression {
  require(matrix.length % dim == 0 && mean.length == dim,
    s"affine_project: matrix ${matrix.length} not a k×$dim grid or mean ${mean.length} != $dim")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorTypeCheck.check("affine_project", Seq(child.dataType))
  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(input: Any): Any =
    HashOps.affineProject(input.asInstanceOf[ArrayData], matrix, mean, dim, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("matrix", matrix, "double[]")
    val mu = ctx.addReferenceObj("mean", mean, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.affineProject($c, $m, $mu, $dim, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): AffineProject =
    copy(child = newChild)
}

/** cms_estimate(key) against a serialized Count-Min sketch → long
 * estimated frequency. The sketch bytes embed in the plan as a
 * reference object (deserialized once per task, like a broadcast
 * scalar), so probing is a per-row array lookup inside whole-stage
 * codegen — frequency checks against a corpus-wide sketch never
 * re-shuffle the corpus. Key typing mirrors CountMinSketchAgg.update:
 * integral keys hash as longs, strings as UTF-8 bytes. */
case class CmsEstimate(child: Expression, sketch: Array[Byte]) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType | StringType | NullType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cms_estimate requires an integral or string key, got ${other.sql}")
  }
  @transient private lazy val cms =
    org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketch))
  private def isString: Boolean = child.dataType == StringType
  override protected def nullSafeEval(input: Any): Any =
    if (isString) HashOps.cmsCountString(cms, input.asInstanceOf[UTF8String])
    else HashOps.cmsCountLong(cms, input.asInstanceOf[Number].longValue())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cms", cms, "org.apache.spark.util.sketch.CountMinSketch")
    if (isString)
      defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.cmsCountString($ref, $c)")
    else
      defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.cmsCountLong($ref, (long) $c)")
  }
  override protected def withNewChildInternal(newChild: Expression): CmsEstimate =
    copy(child = newChild)
}

/** search_sorted(v) against an ascending plan-embedded long[] →
 * int bucket index = count of breaks <= v (0..n). The static
 * range-dimension lookup (price bands, IP→geo ranges, SLA tiers):
 * a bounded sorted break table rides the plan as a reference object
 * and every row resolves its band by binary search INSIDE whole-stage
 * codegen — no join, no shuffle, no broadcast hash table, and (unlike
 * a BroadcastNestedLoopJoin on a BETWEEN predicate) O(log n) per row
 * instead of O(n). */
case class SearchSortedLong(child: Expression, breaks: Array[Long])
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"search_sorted requires an integral value, got ${other.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    HashOps.searchSorted(breaks, input.asInstanceOf[Number].longValue())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("breaks", breaks, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashOps.searchSorted($ref, (long) $c)")
  }
  override protected def withNewChildInternal(newChild: Expression): SearchSortedLong =
    copy(child = newChild)
}

/** nearest_centroids(vec) against a fixed centroid matrix → array<int>
 * of the nProbe most-similar centroid indices (IVF cell assignment /
 * multiprobe list). */
case class NearestCentroids(child: Expression, centroids: Array[Double], dim: Int, nProbe: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorTypeCheck.check("nearest_centroids", Seq(child.dataType))
  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashOps.nearestCentroids(
      input.asInstanceOf[ArrayData], centroids, dim, nProbe, isFloat))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[]")
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashOps.nearestCentroids($c, $ref, $dim, $nProbe, $isFloat))")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** pq_encode(vec) → array<int>: per-block L2-nearest sub-centroid
 * codes (product quantization). The codebook rides the plan as a
 * reference object — one codegen'd pass, no join against a centroid
 * table. */
case class PqEncode(child: Expression, codebooks: Array[Double], m: Int, subdim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorTypeCheck.check("pq_encode", Seq(child.dataType))
  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashOps.pqEncode(
      input.asInstanceOf[ArrayData], codebooks, m, subdim, isFloat))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "double[]")
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashOps.pqEncode($c, $ref, $m, $subdim, $isFloat))")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** pq_adc_table(vec) → array<double>: the probe-side ADC lookup table
 * (per-block dots against every sub-centroid, pre-divided by the
 * probe norm) — computed once per probe so the per-corpus-row score
 * is table lookups only. */
case class PqAdcTable(child: Expression, codebooks: Array[Double], m: Int, subdim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorTypeCheck.check("pq_adc_table", Seq(child.dataType))
  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashOps.pqAdcTable(
      input.asInstanceOf[ArrayData], codebooks, m, subdim, isFloat))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "double[]")
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashOps.pqAdcTable($c, $ref, $m, $subdim, $isFloat))")
  }
  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)
}

/** pq_table_score(codes, table) → double: cosine of the probe against
 * the code's reconstruction, via the probe's ADC table and the
 * codebook's precomputed per-centroid squared norms (reference
 * object). m lookups + adds per row — the ADC scan inner loop. */
case class PqTableScore(left: Expression, right: Expression, normSq: Array[Double], ks: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) => TypeCheckSuccess
      case (l, r) => TypeCheckFailure(
        s"pq_table_score requires (array<int>, array<double>), got ${l.sql}, ${r.sql}")
    }
  }
  override protected def nullSafeEval(codes: Any, table: Any): Any =
    HashOps.pqTableScore(codes.asInstanceOf[ArrayData], table.asInstanceOf[ArrayData], normSq, ks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("normSq", normSq, "double[]")
    defineCodeGen(ctx, ev,
      (c, t) => s"graft.functions.HashOps.pqTableScore($c, $t, $ref, $ks)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqTableScore =
    copy(left = l, right = r)
}

object expressions {
  import org.apache.spark.sql.graftglue.ColumnBridge.{column, expression}
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))
  def normalizeText(c: Column, form: String = "NFC", stripAccents: Boolean = false,
      caseFold: Boolean = false, collapseWs: Boolean = false): Column = {
    val f = form match {
      case "NFC" => 0
      case "NFD" => 1
      case "NFKC" => 2
      case "NFKD" => 3
      case other => throw new IllegalArgumentException(
        s"normalizeText form must be NFC/NFD/NFKC/NFKD, got $other")
    }
    column(NormalizeText(expression(c), f, stripAccents, caseFold, collapseWs))
  }
  def simhashText(c: Column): Column = column(SimHashText(expression(c)))
  def fingerprint64(c: Column): Column = column(Fingerprint64(expression(c)))
  def winnow(c: Column, k: Int = 8, w: Int = 16): Column = column(Winnow(expression(c), k, w))
  def cdcChunks(c: Column, w: Int = 16, div: Long = 32L, rem: Long = 9L): Column =
    column(CdcChunks(expression(c), w, div, rem))
  def commonPrefixLen(a: Column, b: Column): Column =
    column(CommonPrefixLen(expression(a), expression(b)))
  def wordNgrams(c: Column, n: Int): Column = column(WordNgrams(expression(c), n))
  def gopherTopPpm(c: Column, minN: Int, maxN: Int): Column =
    column(GopherTopPpm(expression(c), minN, maxN))
  def hashedLinearScore(c: Column, buckets: Long, seed: Long): Column =
    column(HashedLinearScore(expression(c), buckets, seed))
  def wordChunks(c: Column, k: Int): Column = wordChunksStrided(c, k, k)
  def wordChunksStrided(c: Column, window: Int, stride: Int): Column =
    column(WordChunksStrided(expression(c), window, stride))
  def sortStructArray(c: Column): Column = column(SortStructArray(expression(c)))
  def langId(c: Column, langs: Seq[(String, Seq[String])]): Column =
    column(LangId(expression(c), langs))
  def wordShingleHashes(c: Column, n: Int = 3): Column =
    column(WordShingleHashes(expression(c), n))
  def minhashSig(c: Column, numPerm: Int = 64): Column =
    column(MinHashSig(expression(c), numPerm))
  def hashJaccard(a: Column, b: Column): Column =
    column(HashJaccard(expression(a), expression(b)))
  def kmFoldPpm(atRisk: Column, deaths: Column): Column =
    column(KmFoldPpm(expression(atRisk), expression(deaths)))
  def headerMeta(payload: Column): Column = column(HeaderMeta(expression(payload)))
  def canonicalUrl(url: Column,
      dropParams: String = UrlDropList.DefaultSpec,
      foldHttp: Boolean = true): Column =
    column(CanonicalUrl(expression(url), dropParams, foldHttp))
  def deletionNeighborhood(s: Column, k: Int = 1): Column =
    column(DeletionNeighborhood(expression(s), k))
  def deletionNeighborhoodHashed(s: Column, k: Int = 1): Column =
    column(DeletionNeighborhoodHashed(expression(s), k))
  def hashContainment(a: Column, b: Column): Column =
    column(HashContainment(expression(a), expression(b)))
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))
  def arrayFieldSum(arr: Column, field: String): Column =
    column(ArrayFieldSum(expression(arr), field))
  def vecNorm(a: Column): Column = column(VecNorm(expression(a)))
  def hyperplaneSig(v: Column, planes: Array[Double], dim: Int): Column =
    column(HyperplaneSig(expression(v), planes, dim))
  def signedProjection(v: Column, signs: Array[Long], dim: Int): Column = {
    require(signs.nonEmpty && signs.length % dim == 0,
      "signedProjection: signs must be a k x dim matrix")
    column(SignedProjection(expression(v), signs, dim))
  }
  def bitmapDistinct(c: Column, domain: Int): Column =
    column(BitmapDistinct(expression(c), domain).toAggregateExpression())
  def affineProject(v: Column, matrix: Array[Double], mean: Array[Double], dim: Int): Column =
    column(AffineProject(expression(v), matrix, mean, dim))
  def gramAggregate(v: Column, dim: Int, scale: Long): Column =
    column(GramAggregate(expression(v), dim, scale).toAggregateExpression())
  def searchSortedLong(v: Column, breaks: Array[Long]): Column = {
    require(breaks.nonEmpty, "searchSortedLong: empty breaks")
    require((1 until breaks.length).forall(i => breaks(i - 1) <= breaks(i)),
      "searchSortedLong: breaks must be ascending")
    column(SearchSortedLong(expression(v), breaks))
  }
  def nearestCentroids(v: Column, centroids: Array[Double], dim: Int, nProbe: Int): Column =
    column(NearestCentroids(expression(v), centroids, dim, nProbe))
  def pqEncode(v: Column, codebooks: Array[Double], m: Int, subdim: Int): Column =
    column(PqEncode(expression(v), codebooks, m, subdim))
  def pqAdcTable(v: Column, codebooks: Array[Double], m: Int, subdim: Int): Column =
    column(PqAdcTable(expression(v), codebooks, m, subdim))
  def pqTableScore(codes: Column, table: Column, normSq: Array[Double], ks: Int): Column =
    column(PqTableScore(expression(codes), expression(table), normSq, ks))
  def cmsEstimate(key: Column, sketch: Array[Byte]): Column =
    column(CmsEstimate(expression(key), sketch))
}
