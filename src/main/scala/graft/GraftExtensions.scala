package graft

import graft.functions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/**
 * Session extensions registering graft's native expressions as SQL
 * functions, so `spark.sql("SELECT simhash64(split(text, ' ')) ...")`
 * works anywhere the library is on the classpath:
 *
 *   SparkSession.builder()
 *     .config("spark.sql.extensions", "graft.GraftExtensions")
 *     ...
 *
 * (or `.withExtensions(new GraftExtensions)`). For a session that
 * already exists (builder extensions only apply at build time), use
 * `GraftExtensions.register(spark)`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
}

object GraftExtensions {

  private def intArg(name: String, args: Seq[Expression], i: Int, default: Int): Int =
    if (args.length <= i) default
    else {
      // must be a literal/foldable value — eval() on a column reference
      // would throw an opaque internal error
      if (!args(i).foldable)
        throw new IllegalArgumentException(s"$name: argument ${i + 1} must be a literal integer")
      args(i).eval().asInstanceOf[Number].intValue()
    }

  private def longArg(name: String, args: Seq[Expression], i: Int, default: Long): Long =
    if (args.length <= i) default
    else {
      if (!args(i).foldable)
        throw new IllegalArgumentException(s"$name: argument ${i + 1} must be a literal integer")
      args(i).eval().asInstanceOf[Number].longValue()
    }

  private def boolArg(name: String, args: Seq[Expression], i: Int, default: Boolean): Boolean =
    if (args.length <= i) default
    else {
      val v = if (args(i).foldable) args(i).eval() else null
      v match {
        case b: java.lang.Boolean => b
        case n: Number => n.intValue() != 0
        case _ => throw new IllegalArgumentException(
          s"$name: argument ${i + 1} must be a literal boolean")
      }
    }

  private def strArg(name: String, args: Seq[Expression], i: Int): String = {
    val ok = args(i).foldable && args(i).dataType == org.apache.spark.sql.types.StringType
    val v = if (ok) args(i).eval() else null
    if (v == null) // not foldable, wrong type, or a NULL literal
      throw new IllegalArgumentException(s"$name: argument ${i + 1} must be a non-null literal string")
    v.toString
  }

  private def arity(name: String, min: Int, max: Int)(b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      if (args.length < min || args.length > max)
        throw new IllegalArgumentException(
          s"$name requires $min${if (max != min) s" to $max" else ""} argument(s), got ${args.length}")
      b(args)
    }
  private def arity(name: String, n: Int)(b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    arity(name, n, n)(b)

  /** (name, usage, expression builder) for every graft SQL function. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("simhash64", "simhash64(tokens) - 64-bit SimHash of a string array",
      arity("simhash64", 1)(args => SimHash64(args.head))),
    ("fingerprint64", "fingerprint64(text) - FNV-1a 64-bit document fingerprint",
      arity("fingerprint64", 1)(args => Fingerprint64(args.head))),
    ("word_shingle_hashes", "word_shingle_hashes(text[, n]) - sorted distinct word n-gram hashes",
      arity("word_shingle_hashes", 1, 2)(args =>
        WordShingleHashes(args.head, intArg("word_shingle_hashes", args, 1, 3)))),
    ("minhash_sig", "minhash_sig(hashes[, numPerm]) - MinHash signature of a hash set",
      arity("minhash_sig", 1, 2)(args =>
        MinHashSig(args.head, intArg("minhash_sig", args, 1, 64)))),
    ("hash_jaccard", "hash_jaccard(a, b) - Jaccard similarity of sorted distinct hash arrays",
      arity("hash_jaccard", 2)(args => HashJaccard(args.head, args(1)))),
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of numeric vectors",
      arity("cosine_sim", 2)(args => CosineSim(args.head, args(1)))),
    ("array_field_sum", "array_field_sum(arr, 'field') - sum of a BIGINT struct field over an array<struct>",
      arity("array_field_sum", 2)(args => ArrayFieldSum(args.head, strArg("array_field_sum", args, 1)))),
    ("word_ngrams", "word_ngrams(text, n) - space-joined word n-grams (literal-whitespace split)",
      arity("word_ngrams", 2)(args => WordNgrams(args.head, intArg("word_ngrams", args, 1, 2)))),
    ("sort_struct_array", "sort_struct_array(arr) - array_sort with a compiled struct comparator",
      arity("sort_struct_array", 1)(args => SortStructArray(args.head))),
    ("simhash_text", "simhash_text(text) - 64-bit SimHash straight from raw text",
      arity("simhash_text", 1)(args => SimHashText(args.head))),
    ("winnow", "winnow(text[, k, w]) - winnowed k-gram fingerprint sample",
      arity("winnow", 1, 3)(args =>
        Winnow(args.head, intArg("winnow", args, 1, 8), intArg("winnow", args, 2, 16)))),
    ("common_prefix_len", "common_prefix_len(a, b) - code-point length of the longest common prefix",
      arity("common_prefix_len", 2)(args => CommonPrefixLen(args.head, args(1)))),
    ("cdc_chunks", "cdc_chunks(text[, w, div, rem]) - content-defined chunk split on rolling-hash boundaries",
      arity("cdc_chunks", 1, 4)(args =>
        CdcChunks(args.head, intArg("cdc_chunks", args, 1, 16),
          intArg("cdc_chunks", args, 2, 32).toLong,
          intArg("cdc_chunks", args, 3, 9).toLong))),
    ("lang_id", "lang_id(text) - heuristic language code (marker-word profile)",
      arity("lang_id", 1)(args => LangId(args.head, TextFunctions.langMarkers))),
    ("word_chunks", "word_chunks(text, k) - non-overlapping k-word chunks (short tail kept)",
      arity("word_chunks", 2)(args => {
        val k = intArg("word_chunks", args, 1, 8)
        WordChunksStrided(args.head, k, k)
      })),
    ("hash_containment", "hash_containment(a, b) - |A∩B|/|A| over sorted distinct hash arrays",
      arity("hash_containment", 2)(args => HashContainment(args.head, args(1)))),
    ("word_chunks_strided", "word_chunks_strided(text, window, stride) - overlapping window-word chunks every stride words",
      arity("word_chunks_strided", 3)(args => WordChunksStrided(args.head,
        intArg("word_chunks_strided", args, 1, 64), intArg("word_chunks_strided", args, 2, 48)))),
    ("normalize_text", "normalize_text(text[, form, strip_accents, case_fold, collapse_ws]) - Unicode-normalize (NFC/NFD/NFKC/NFKD) with optional accent-strip/case-fold/whitespace-collapse",
      arity("normalize_text", 1, 5)(args => {
        val form = (if (args.length > 1) strArg("normalize_text", args, 1) else "NFC") match {
          case "NFC" => 0
          case "NFD" => 1
          case "NFKC" => 2
          case "NFKD" => 3
          case other => throw new IllegalArgumentException(
            s"normalize_text: form must be NFC/NFD/NFKC/NFKD, got '$other'")
        }
        NormalizeText(args.head, form,
          boolArg("normalize_text", args, 2, default = false),
          boolArg("normalize_text", args, 3, default = false),
          boolArg("normalize_text", args, 4, default = false))
      })),
    ("bitmap_distinct", "bitmap_distinct(key, domain) - exact distinct count of an integral key in [0, domain) via fixed-width bitmap aggregate state",
      arity("bitmap_distinct", 2)(args =>
        BitmapDistinct(args.head, intArg("bitmap_distinct", args, 1, 0)))),
    ("gopher_top_ppm", "gopher_top_ppm(text[, minN, maxN]) - ppm of chars covered by the most frequent word n-gram, one array slot per n in [minN, maxN]",
      arity("gopher_top_ppm", 1, 3)(args =>
        GopherTopPpm(args.head, intArg("gopher_top_ppm", args, 1, 2),
          intArg("gopher_top_ppm", args, 2, 4)))),
    ("hashed_linear_score", "hashed_linear_score(text[, buckets, seed]) - hashing-trick linear classifier score (token -> fnv64 -> bucket -> seeded weight, summed per occurrence)",
      arity("hashed_linear_score", 1, 3)(args =>
        HashedLinearScore(args.head,
          longArg("hashed_linear_score", args, 1, 65536L),
          longArg("hashed_linear_score", args, 2, 1L)))),
    ("search_sorted", "search_sorted(v, array(b0, b1, ...)) - bucket index of v among ascending literal breaks (count of breaks <= v)",
      arity("search_sorted", 2)(args => {
        if (!args(1).foldable)
          throw new IllegalArgumentException(
            "search_sorted: breaks must be a literal array")
        // check the ELEMENT type, not just array-ness: a double array
        // would silently truncate toward zero and band against breaks
        // the user never wrote; strings/null elements get a clean
        // message instead of a raw CCE/NPE
        import org.apache.spark.sql.types.{ArrayType, ByteType, ShortType, IntegerType, LongType}
        val elemType = args(1).dataType match {
          case ArrayType(et @ (ByteType | ShortType | IntegerType | LongType), _) => et
          case other => throw new IllegalArgumentException(
            s"search_sorted: breaks must be an integral array, got ${other.sql}")
        }
        val breaks = args(1).eval() match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            (0 until a.numElements()).map { i =>
              val v = a.get(i, elemType)
              if (v == null) throw new IllegalArgumentException(
                "search_sorted: breaks must not contain NULL elements")
              v.asInstanceOf[Number].longValue()
            }.toArray
          case _ => throw new IllegalArgumentException(
            "search_sorted: breaks must be a non-null literal array")
        }
        if (breaks.isEmpty || (1 until breaks.length).exists(i => breaks(i - 1) > breaks(i)))
          throw new IllegalArgumentException(
            "search_sorted: breaks must be non-empty and ascending")
        SearchSortedLong(args.head, breaks)
      })),
  )

  /** Register all graft functions on an existing session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graftglue.ColumnBridge.registerFunction(spark, name, builder)
    }
}
