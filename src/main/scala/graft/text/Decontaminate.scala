package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Benchmark decontamination: flag training documents that share any
 * word n-gram with a held-out benchmark/eval set — the standard
 * "n-gram overlap" contamination test applied before an LLM training
 * run.
 *
 * Scale shape: both sides explode to (doc, gram-hash) rows via the
 * codegen'd wordNgrams kernel, the benchmark side collapses to its
 * DISTINCT gram-hash set, and the match is an equality join on the
 * hash. A benchmark is tiny relative to a 100 TB corpus, so its gram
 * set broadcasts and the corpus side never shuffles — the whole pass
 * is one corpus scan. Grams are compared by 64-bit hash, not string
 * (shuffle/broadcast volume), which differs from exact string overlap
 * only on a hash collision (~n²/2⁶⁴).
 */
object Decontaminate {

  /**
   * Per-training-document contamination report: (id, n_hit_grams,
   * contaminated), where n_hit_grams counts the DISTINCT n-grams the
   * document shares with the benchmark. Every `train` row appears in
   * the output (zero hits → not contaminated).
   */
  def markContaminated(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val benchGrams = broadcast(grams(bench, idCol, textCol, n).select("__gh").distinct())
    hitReport(train, idCol,
      grams(train, idCol, textCol, n).join(benchGrams, Seq("__gh"), "left_semi"))
  }

  /** (__id, __gh): the xxhash64 of every word `n`-gram of each doc. */
  private def grams(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("__id"),
        explode(graft.functions.expressions.wordNgrams(col(textCol), n)).as("__g"))
      .select(col("__id"), xxhash64(col("__g")).as("__gh"))

  /** The contamination report over `hits` (__id, __gh): (id,
   * n_hit_grams, contaminated) for every `train` row, counting
   * DISTINCT hit grams. */
  private def hitReport(train: DataFrame, idCol: String, hits: DataFrame): DataFrame =
    train.select(col(idCol))
      .join(hits.groupBy("__id").agg(count_distinct(col("__gh")).as("n_hit_grams")),
        col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"))
      .withColumn("contaminated", col("n_hit_grams") > 0)

  /**
   * SEMANTIC contamination (C54): flag training vectors whose
   * embedding is within cosine `thresholdMilli/1000` of ANY benchmark
   * vector — the meaning-level leak the n-gram tests above
   * structurally miss (a paraphrased or translated benchmark answer
   * shares no 8-gram with the original). Completes the
   * decontamination ladder: exact substring (C17), hashed-gram at
   * Bloom scale (C17b), span excision (C17c), and this for rewording.
   *
   * Scale shape: the benchmark side is tiny relative to a 100 TB
   * corpus, so it broadcasts WHOLE and the pass is one corpus scan
   * through a broadcast nested-loop join — no corpus shuffle, no
   * index build, and recall is EXACT by construction. The exactness
   * matters: a decontamination pass must not miss leaks, which rules
   * out the LSH shortcut here (the r14 probe measured hyperplane-LSH
   * recall ~0.6 at the mid-range cosines paraphrase detection needs).
   * Per-row cost is |bench| cosines — the honest price of exact
   * recall, linear in the corpus, embarrassingly parallel.
   *
   * Output: (id, n_bench_hits, contaminated) for every train row —
   * integer hit counts, not raw cosines, so the row is
   * engine-replayable without float-hash hazards.
   */
  def markContaminatedSemantic(train: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, thresholdMilli: Int): DataFrame = {
    require(thresholdMilli > 0 && thresholdMilli <= 1000,
      s"thresholdMilli must be in (0,1000], got $thresholdMilli")
    val b = broadcast(bench.select(col(vecCol).as("__bvec")))
    val hits = graft.dedup.Dedup.spread(train)
      .select(col(idCol).as("__id"), col(vecCol).as("__tvec"))
      .join(b, graft.dedup.Dedup.cosine(col("__tvec"), col("__bvec")) * 1000
        >= thresholdMilli)
      .groupBy("__id").agg(count(lit(1)).as("n_bench_hits"))
    train.select(col(idCol))
      .join(hits, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"))
      .withColumn("contaminated", col("n_bench_hits") > 0)
  }

  /**
   * Span-level decontamination: instead of DROPPING a contaminated
   * document ([[markContaminated]] flags it whole), EXCISE exactly the
   * tokens covered by any benchmark-overlapping n-gram and keep the
   * rest — the fine-grained pipeline variant that preserves training
   * mass when contamination is a quoted snippet inside an otherwise
   * clean document.
   *
   * Mechanics: gram starts come from `posexplode(wordNgrams(text, n))`
   * (pos = the gram's first token index), a hit covers tokens
   * [pos, pos+n); covered indices dedup per doc; the flagged-only
   * ordered rebuild is the shared [[SpanExcision.excise]] kernel.
   * Output: (id, clean_text, n_removed). A fully-covered document
   * yields ("", token count).
   */
  def exciseContaminated(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    import graft.functions.expressions.wordNgrams
    val benchGrams = broadcast(
      bench.select(explode(wordNgrams(col(textCol), n)).as("__g"))
        .select(xxhash64(col("__g")).as("__gh")).distinct())
    val src = train.select(col(idCol).as("__id"), col(textCol).as("__text"))
    val covered = src
      .select(col("__id"), posexplode(wordNgrams(col("__text"), n)))
      .select(col("__id"), col("pos"), xxhash64(col("col")).as("__gh"))
      .join(benchGrams, Seq("__gh"), "left_semi")
      .select(col("__id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("__tok"))
      .distinct()
    SpanExcision.excise(src, covered).withColumnRenamed("__id", idCol)
  }

  /**
   * [[markContaminated]] for the MANY-benchmark regime, where the
   * combined gram set no longer broadcasts (dozens of eval suites ×
   * millions of grams): a Bloom filter over the benchmark gram hashes
   * (MBs regardless of gram count, built map-side partial —
   * [[graft.operators.BloomJoin.buildFilter]]) prunes the corpus gram
   * stream AT THE SCAN, and the exact confirmation is a SHUFFLE
   * left-semi join (shuffle_hash-hinted: this path exists precisely
   * because the bench side is too big to broadcast) that only ever
   * sees the pruned slice — true hits plus ~fpp of the non-matching
   * grams — instead of every gram of a 100 TB corpus. Bloom false
   * positives die in the exact join, so the output is row-identical
   * to [[markContaminated]] (the q_decontaminate_bloom row shares its
   * oracle).
   */
  def markContaminatedBig(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int,
      expectedGrams: Long = 1L << 20,
      numBits: Long = 8L * 1024 * 1024): DataFrame = {
    val benchGrams = grams(bench, idCol, textCol, n).select("__gh").distinct()
    val bf = graft.operators.BloomJoin.buildFilter(
      benchGrams, "__gh", expectedGrams, numBits)
    val candidates = grams(train, idCol, textCol, n)
      .filter(graft.operators.BloomJoin.mightContain(bf, col("__gh")))
    hitReport(train, idCol,
      candidates.join(benchGrams.hint("shuffle_hash"), Seq("__gh"), "left_semi"))
  }
}
