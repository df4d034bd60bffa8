package graft.pipelines

import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.functions.expressions.{hashJaccard, wordNgrams, wordShingleHashes}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * End-to-end corpus assembly: the composition of the individually
 * verified C-operators into the pipeline a training run actually
 * executes — canonical-URL dedup (C93, stage 0 when the corpus
 * carries URL provenance) → quality filter (C30) → exact dedup (C1)
 * → near-dup dedup (C2/C4) → benchmark decontamination (C17) →
 * per-language stratified sampling (C25) → sequential packing
 * (C19/C19b). Each stage is a
 * DataFrame => DataFrame over the same document frame, so the stages
 * compose lazily into ONE Catalyst plan: filters and column pruning
 * flow through the whole chain, and no stage materializes an
 * intermediate corpus.
 *
 * Every stage is deterministic (md5/xxhash keyed — no rand(), no
 * float at a keep/drop boundary), so the COMPOSITION is deterministic
 * too and the final packed output can be value-checked end-to-end
 * against an independent SQL replay (the `q_corpus_pipeline` driver
 * row hashes every byte of every packed chunk via md5).
 *
 * Scale shape: one quality-filter scan; one hash-partition shuffle
 * for exact dedup; candidate-pair equi joins for near-dedup (ids
 * only, never text); a broadcast gram-set semi join for
 * decontamination; a narrow hash filter for sampling; one window +
 * one aggregate for packing, both partitioned by the shard column.
 * Cartesian-free by construction (PlanAuditSpec asserts it on the
 * composed plan).
 */
object CorpusAssembly {

  /** Knobs for every stage; defaults match the `q_corpus_pipeline`
   * driver row and its DuckDB replay (thresholds resolve to integer
   * literals, so Spark and the oracle agree bit-for-bit). */
  final case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      shardCol: String = "source",
      minWords: Long = 20L,
      maxWords: Long = 2000L,
      minStopRatio: Double = 0.1,
      jaccardThreshold: Double = 0.8,
      shingleWords: Int = 3,
      benchMod: Long = 97L,
      gramN: Int = 4,
      fractions: Map[String, Double] = Map("en" -> 0.8, "es" -> 0.5),
      defaultFraction: Double = 0.25,
      packBudget: Long = 512L,
      urlCol: Option[String] = None,
      urlDropParams: String = graft.functions.UrlDropList.DefaultSpec,
      urlFoldHttp: Boolean = true)

  /** Stage 0 — canonical-URL dedup (C93): the same page fetched under
   * surface-variant URLs collapses BEFORE any content stage pays
   * shingle or hash cost on it — the canonical form is also the
   * natural pre-partition key for the content stages that follow.
   * One codegen'd projection + one canonical-key window (the
   * [[graft.text.Urls.canonicalDedup]] shape inlined to keep the doc
   * row); applies only when `cfg.urlCol` names the provenance column
   * — a corpus without URL provenance has no stage 0 and the stage
   * passes through untouched (the CLI refuses an explicit `canon`
   * stage without `--url-col`, so the skip is never silent where a
   * human typed it).
   *
   * NULL-URL rows pass through untouched (ADVICE r18): a doc without
   * provenance carries no URL-identity evidence, so it must never be
   * URL-deduped — and in a MIXED corpus the old behavior (nulls all
   * canonicalize to null) silently dropped every null-URL doc but
   * one. The null rows key by their own id (NUL-prefixed, so no real
   * canonical URL can collide), which also keeps them SPREAD across
   * window partitions instead of piling into one null reducer. */
  def canonDedup(docs: DataFrame, cfg: Config = Config()): DataFrame =
    cfg.urlCol match {
      case None => docs
      case Some(u) =>
        val w = Window.partitionBy("__canon_url")
        docs.withColumn("__canon_url", coalesce(
            graft.functions.expressions.canonicalUrl(col(u), cfg.urlDropParams,
              cfg.urlFoldHttp),
            concat(lit("\u0000"), col(cfg.idCol).cast("string"))))
          .withColumn("__canon_keep", min(col(cfg.idCol)).over(w))
          .filter(col(cfg.idCol) === col("__canon_keep"))
          .drop("__canon_url", "__canon_keep")
    }

  /** Stage 1 — quality gate: C30's composed filter chain minus the
   * language cut (the language mix is handled by [[sample]], not
   * killed up front): word-count band, stopword floor, 2-gram
   * repetition ceiling. One narrow scan, all kernels codegen'd. */
  def qualityFilter(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val words = wordNgrams(coalesce(col(cfg.textCol), lit("")), 1)
    val g2 = wordNgrams(coalesce(col(cfg.textCol), lit("")), 2)
    docs.filter(
      size(words).cast("long").between(cfg.minWords, cfg.maxWords) &&
        TextFunctions.stopwordRatio(col(cfg.textCol)) >= cfg.minStopRatio &&
        (size(g2) === 0 ||
          size(array_distinct(g2)).cast("long") * 5L >= size(g2).cast("long") * 2L))
  }

  /** Stage 2 — exact dedup (C1's keep-first rule) as ONE window over
   * the content hash: keep each text's min-id occurrence. A single
   * hash-partition shuffle; no join back. */
  def exactDedup(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val w = Window.partitionBy(md5(col(cfg.textCol).cast("binary")))
    docs.withColumn("__keep_id", min(col(cfg.idCol)).over(w))
      .filter(col(cfg.idCol) === col("__keep_id"))
      .drop("__keep_id")
  }

  /** Stage 3, exact-complete variant — keep-first Jaccard dedup with
   * shingle-inverted-index blocking: candidates are pairs sharing at
   * least one word shingle (an EQUI join on the shingle hash — any
   * pair at Jaccard ≥ threshold > 0 shares a shingle, so blocking
   * loses nothing), verified by exact hash-set Jaccard per deduped
   * candidate — the [[graft.dedup.Dedup]] pair shape.
   *
   * This variant is COMPLETE (no LSH miss probability), which is what
   * lets the `q_corpus_pipeline` oracle replay it in string space.
   * The cost is candidate skew: a shingle occurring in k surviving
   * docs yields O(k²) candidates, so on a crawled corpus whose hot
   * boilerplate shingles survive [[exactDedup]], prefer
   * [[nearDedupMinhash]] (banded candidates, bounded by band
   * collisions) and keep this as the equivalence baseline. */
  def nearDedupExact(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val base = docs.select(col(cfg.idCol).as("__nd_id"),
      wordShingleHashes(coalesce(col(cfg.textCol), lit("")), cfg.shingleWords).as("__sh"))
    val anchors = base.select(col("__nd_id"), explode(col("__sh")).as("__anchor"))
    val dead = Dedup.withPayload(Dedup.selfPairs(anchors, "__nd_id", Seq("__anchor")),
        base, "__nd_id", "__sh")
      .filter(hashJaccard(col("__sh_a"), col("__sh_b")) >= cfg.jaccardThreshold)
      .select(col("id_b").as("__nd_dead")).distinct()
    docs.join(dead, col(cfg.idCol) === col("__nd_dead"), "left_anti")
  }

  /** Stage 3, production plug — MinHash+LSH near-dedup (C2): banded
   * candidate generation bounds the pair count on boilerplate-heavy
   * corpora where [[nearDedupExact]]'s complete blocking goes
   * quadratic. Both drop a doc iff a smaller-id ≥ threshold partner
   * is found, but they differ on docs too short to shingle: this one
   * also drops an exact copy of a smaller-id short doc
   * ([[Dedup.minhashKeep]]'s exact layer), while [[nearDedupExact]]
   * keeps every short doc. In [[assembleStaged]] the [[exactDedup]]
   * stage runs first and removes those copies, so there the two slot
   * in interchangeably; LSH recall is then the probabilistic
   * difference, hedged by the standing `q_dedup_minhash_sound` gate. */
  def nearDedupMinhash(docs: DataFrame, cfg: Config = Config()): DataFrame =
    docs.join(
      Dedup.minhashKeep(docs, cfg.idCol, cfg.textCol, cfg.jaccardThreshold, cfg.shingleWords)
        .filter(col("keep")).select(col("doc_id").as("__nd_keep")),
      col(cfg.idCol) === col("__nd_keep"), "left_semi")

  /** Stage 4 — benchmark decontamination (C17): drop the benchmark
   * slice itself (id ≡ 0 mod benchMod), then drop every surviving doc
   * sharing a word `gramN`-gram with ANY benchmark doc — the bench
   * side is the RAW slice (quality-filtering the benchmark would
   * re-admit contamination from low-quality bench docs). */
  def decontaminate(docs: DataFrame, bench: DataFrame, cfg: Config = Config()): DataFrame = {
    val train = docs.filter(pmod(col(cfg.idCol), lit(cfg.benchMod)) =!= 0L)
    val dirty = graft.text.Decontaminate
      .markContaminated(train, bench, cfg.idCol, cfg.textCol, cfg.gramN)
      .filter(col("contaminated"))
      .select(col(cfg.idCol).as("__dirty_id"))
    train.join(dirty, col(cfg.idCol) === col("__dirty_id"), "left_anti")
  }

  /** Stage 5 — per-language stratified sampling (C25): deterministic
   * md5-bucket Bernoulli keep per stratum, a pure narrow filter. */
  def sample(docs: DataFrame, cfg: Config = Config()): DataFrame =
    graft.operators.Sampling.stratifiedSample(docs, cfg.langCol, cfg.idCol,
      cfg.fractions, cfg.defaultFraction)

  /** Stage 6 — sequential packing (C19) + chunk materialization
   * (C19b), sharded by `shardCol`: emits one row per (shard, chunk)
   * with the chunk text fingerprinted through md5 so the result is
   * value-checkable byte-for-byte while staying small. */
  def pack(docs: DataFrame, cfg: Config = Config()): DataFrame =
    graft.operators.Sampling.materializePack(docs, cfg.shardCol, cfg.idCol,
      cfg.textCol, size(wordNgrams(col(cfg.textCol), 1)), cfg.packBudget)
      .select(col(cfg.shardCol), col("chunk_id"), col("n_docs"), col("chunk_tok"),
        md5(col("chunk_text").cast("binary")).as("text_md5"))

  /** Canonical stage order; `assembleStaged` accepts any subset. */
  val StageNames: Seq[String] =
    Seq("canon", "quality", "exact", "near", "decon", "sample", "pack")

  /** [[assemble]] restricted to a stage subset (always applied in
   * canonical order) — the CLI's `--stages` surface: a debugging or
   * re-run workflow wants "everything up to near-dedup" or "packing
   * only over an already-assembled corpus" without editing code. The
   * benchmark slice for `decon` is always cut from the RAW input
   * (same contract as [[assemble]]), independent of stage choice. */
  def assembleStaged(docs: DataFrame, cfg: Config = Config(),
      nearDedup: (DataFrame, Config) => DataFrame = nearDedupMinhash,
      stages: Seq[String] = StageNames): DataFrame = {
    val bad = stages.filterNot(StageNames.contains)
    require(bad.isEmpty,
      s"unknown stages ${bad.mkString(",")} (of ${StageNames.mkString("|")})")
    val bench = docs.filter(pmod(col(cfg.idCol), lit(cfg.benchMod)) === 0L)
    StageNames.filter(stages.contains).foldLeft(docs) { (df, stage) =>
      stage match {
        case "canon"   => canonDedup(df, cfg)
        case "quality" => qualityFilter(df, cfg)
        case "exact"   => exactDedup(df, cfg)
        case "near"    => nearDedup(df, cfg)
        case "decon"   => decontaminate(df, bench, cfg)
        case "sample"  => sample(df, cfg)
        case "pack"    => pack(df, cfg)
      }
    }
  }

  /** The full composition. `nearDedup` picks the stage-3 variant:
   * [[nearDedupMinhash]] (default — the banded 100 TB path) or
   * [[nearDedupExact]] (complete blocking, string-replayable — what
   * the `q_corpus_pipeline` oracle row pins). */
  def assemble(docs: DataFrame, cfg: Config = Config(),
      nearDedup: (DataFrame, Config) => DataFrame = nearDedupMinhash): DataFrame =
    assembleStaged(docs, cfg, nearDedup)
}
