package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance fuzzy matching over a string domain (B89) — the
 * dimension-cleaning staple ("red bolt" vs "old bolt": same part?)
 * behind vendor/product/address harmonization. The naive form is the
 * all-pairs levenshtein cross join — |domain|² comparisons, the first
 * thing to die when the dimension grows.
 *
 * Blocking uses the classic q-gram COUNT FILTER (q = 2): an edit
 * operation destroys at most q overlapping bigrams, so two strings
 * within distance k still share ≥ max(len) − (q−1) − k·q bigrams —
 * which is ≥ 1 whenever len ≥ (k+1)·q. Candidates are therefore
 * generated by an EQUI-JOIN on shared bigrams (shuffle bounded by the
 * gram→names inverted lists, never the domain²), then verified with
 * the exact codegen'd levenshtein. Strings too short for the bound to
 * hold (< (k+1)·q chars) share one dedicated "short" block and verify
 * all-pairs among themselves — a bounded set by construction, so
 * completeness never silently depends on the filter. The oracle runs
 * the UNBLOCKED all-pairs ground truth: a pair the blocking missed
 * fails the row, making the pigeonhole claim machine-checked rather
 * than cited.
 *
 * Scale: work is Σ_gram |names(gram)|² over bigram blocks — skew
 * lives in stop-grams exactly like C48's prefix filter; at a hot
 * gram, salt or length-partition the block (the B13/B72 machinery
 * applies unchanged because the candidate step is a plain equi-join).
 */
object Fuzzy {

  /** Distinct unordered pairs of `strCol` values within `maxDist`
   * edits. Output: (name_a < name_b, dist). Operates on the DISTINCT
   * value domain — a billion-row column with a bounded label domain
   * costs its distinct set after the first aggregate. */
  def fuzzyNamePairs(df: DataFrame, strCol: String, maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1, "fuzzyNamePairs: maxDist must be >= 1")
    val minLen = (maxDist + 1) * 2
    val names = df.select(col(strCol).as("name"))
      .filter(col("name").isNotNull).distinct()
    // every string emits its bigrams (the count filter guarantees a
    // shared one whenever max(len) >= (k+1)*q, so a short x long pair
    // within k is caught by the LONG side's bound); strings BELOW that
    // length ADDITIONALLY share one "short" block — two short strings
    // have no guaranteed bigram, and a short x long pair beyond the
    // bound exceeds maxDist on length difference alone
    val bigrams = when(length(col("name")) >= 2,
      array_distinct(expr(
        "transform(sequence(0, length(name) - 2), i -> substring(name, i + 1, 2))")))
      .otherwise(array().cast("array<string>"))
    val grams = names.select(col("name"),
      explode(when(length(col("name")) < minLen,
        concat(bigrams, array(lit(" short")))).otherwise(bigrams)).as("g"))
    graft.dedup.Dedup.selfPairs(grams, "name", Seq("g"))
      .select(col("id_a").as("name_a"), col("id_b").as("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= maxDist)
  }
}
