package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QuerySupport._

/** SURVEY §2 section C: the LLM-training-data operators over
 * `documents` and `embeddings`.
 * Each query is one [[QuerySpec]] in `specs`: its name, its builder
 * below and the DuckDB SQL the oracle replays. */
object CorpusQueries {

  /** C1: exact dedup by content hash (keep min id per hash). */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("keep_id")

  /** C2: MinHash+LSH near-dup keep-table — FULL oracle since r14: the
   * banded LSH verifies exact Jaccard before any drop, so its
   * keep-table equals the exact layered relation whenever recall
   * holds, and the oracle replays that relation brute-force over
   * shingle strings in DuckDB (the C4b tokenizer). A hash mismatch IS
   * a recall regression — precisely what the row should catch. The
   * q_dedup_minhash_sound gate independently hedges soundness;
   * DedupSpec verifies semantics on planted near-duplicates. */
  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.minhashKeep(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** C2b: MinHash dedup soundness — docs the LSH pipeline DROPS that
   * have no genuine earlier ≥0.8-Jaccard partner under brute-force
   * comparison. Must be empty (the bucket stage verifies exact
   * Jaccard before dropping, and the exact-md5 layer only collapses
   * identical text); a non-empty result means the layered keep logic
   * dropped a non-duplicate. Oracle: the empty relation. */
  private def qDedupMinhashSound(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val dropped = graft.dedup.Dedup.minhashKeep(docs, "doc_id", "text")
      .filter(!col("keep")).select("doc_id")
    // NULL text → '' to mirror the pipeline's normalization: two
    // NULL-text docs dedup against each other in minhashKeep, so the
    // genuine-partner scan must see them as identical, not as NULL
    // (which would never match and false-fail the empty oracle)
    val base = docs.select(col("doc_id"),
      graft.functions.expressions
        .wordShingleHashes(coalesce(col("text"), lit("")), 3).as("sh"))
    val a = base.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = base.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val genuine = a.join(broadcast(b),
        col("id_b") < col("id_a") &&
          graft.functions.expressions.hashJaccard(col("sh_a"), col("sh_b")) >= 0.8)
      .select(col("id_a").as("dup_id")).distinct()
    dropped.join(genuine, col("doc_id") === col("dup_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** C3: SimHash near-dup keep-table — FULL oracle since r15: the
   * pigeonhole blocking is COMPLETE (4×16-bit blocks; ≤3 differing
   * bits leave ≥1 block identical), so the keep-table provably equals
   * the brute-force Hamming≤3 relation, and the oracle recomputes the
   * 64-bit signature itself (FNV-1a token votes replayed in mod-2^64
   * DuckDB arithmetic) — a mismatch is a signature or blocking bug,
   * never banding recall noise. The standing q_dedup_simhash_sound
   * gate hedges soundness independently. */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.simhashKeep(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** C3b: SimHash dedup soundness — docs the pigeonhole pipeline DROPS
   * that have no genuine earlier Hamming≤3 partner under brute-force
   * all-pairs comparison. Must be empty: the block stage verifies
   * popcount(xor) before dropping, and the exact-md5 layer only
   * collapses identical text (Hamming 0). A dropped doc is either an
   * exact copy of an earlier doc (same text → same signature) or its
   * representative has a verified near-dup with smaller id — both
   * imply an earlier Hamming≤3 partner for the doc itself. Oracle:
   * the empty relation. */
  private def qDedupSimhashSound(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val dropped = graft.dedup.Dedup.simhashKeep(docs, "doc_id", "text")
      .filter(!col("keep")).select("doc_id")
    // coalesce NULL text to '' to mirror keepFirstLayered's normalization
    val base = docs.select(col("doc_id"),
      graft.dedup.Dedup.simhashOf(coalesce(col("text"), lit(""))).as("sim"))
    val a = base.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id").as("id_a"), col("sim").as("sim_a"))
    val b = base.select(col("doc_id").as("id_b"), col("sim").as("sim_b"))
    val genuine = a.join(broadcast(b),
        col("id_b") < col("id_a") &&
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= 3)
      .select(col("id_a").as("dup_id")).distinct()
    dropped.join(genuine, col("doc_id") === col("dup_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** C4: n-gram Jaccard over a deterministic pair sample (adjacent
   * ids), the exact-verify primitive of the dedup stack. Emitted
   * UNROUNDED: intersection/union of small integer counts is one IEEE
   * division, bit-identical across engines, so the hash-space merge
   * oracle-checks against DuckDB's string-space list ops. */
  private def qDedupJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        graft.dedup.Dedup.ngramJaccard(col("text_a"), col("text_b")).as("jaccard"))
      .orderBy("id_a")
  }

  /** C4b: EXACT Jaccard-threshold dedup — keep a doc iff no earlier
   * doc has word-3-gram Jaccard >= 0.8, brute-force pairwise (the
   * oracle-checked baseline for the MinHash+LSH scale path, as C5b is
   * for the embedding-LSH path; the operator compares shingle-hash
   * sets, the oracle shingle strings).
   *
   * Oracle parity holds for arbitrary text (ADVICE r12): docs with
   * < 3 tokens (incl. empty/NULL) yield the EMPTY shingle set on the
   * Spark side, mirroring the oracle's empty UNNEST(range(...)) — no
   * shingles, no near-dup relation — and the oracle tokenizer
   * replicates wordShingleHashes byte-for-byte (ASCII-only lowering
   * via translate; separators = ASCII non-[a-z0-9_]; non-ASCII
   * codepoints are word chars, so CJK text shingles instead of
   * vanishing). CorpusAssemblySpec pins the punctuation-only /
   * non-ASCII edge cases against a string-space replay.
   *
   * Both join sides re-derive the shingle sets (one extra corpus
   * scan) on purpose: caching inside a benchmarked one-shot query
   * would hide the honest cost, and the O(n²) verify dominates. */
  private def qDedupJaccardExact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = docs.select(col("doc_id"),
      graft.functions.expressions.wordShingleHashes(col("text"), 3).as("sh"))
    // single-file scan = one partition; spread the O(n^2) probe side
    val a = base.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = base.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val dups = a.join(broadcast(b),
        col("id_b") < col("id_a") &&
          graft.functions.expressions.hashJaccard(col("sh_a"), col("sh_b")) >= 0.8)
      .select(col("id_a").as("dup_id")).distinct()
    docs.select("doc_id")
      .join(dups, col("doc_id") === col("dup_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** C33: containment dedup (near-subset documents) — the ASYMMETRIC
   * dedup family member: a doc ≥90% contained in a LARGER doc dies
   * (boilerplate-wrapped copies, quoted articles), which
   * Jaccard-threshold dedup structurally misses when the container
   * dwarfs the contained side. Production path: anchor-sampled
   * candidate generation + exact containment verify
   * (dedup/Dedup.containmentKeep). FULL oracle since r15: the anchor
   * sampling (shingle hash ≡ 0 mod 8, df ≤ 1000) and the
   * (size desc, id asc) kill rule are deterministic functions of the
   * shingle-hash sets, which the oracle recomputes itself in mod-2^64
   * DuckDB arithmetic — the whole distributed algorithm replayed
   * end-to-end in a second engine. The _sound gate + the C33b
   * brute-force twin carry the semantic-recall side. */
  private def qDedupContainment(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.containmentKeep(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** C33 soundness: docs killed by the anchored containment pipeline
   * with NO genuine beating container (containment ≥ 0.9 from a
   * strictly larger or equal-sized-smaller-id doc) under brute-force
   * comparison. Must be empty. Oracle: the empty relation. */
  private def qDedupContainmentSound(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val dropped = graft.dedup.Dedup.containmentKeep(docs, "doc_id", "text")
      .filter(!col("keep")).select("doc_id")
    // coalesce NULL text to '' to mirror containmentKeep's normalization
    val base = docs.select(col("doc_id"),
      graft.functions.expressions
        .wordShingleHashes(coalesce(col("text"), lit("")), 3).as("sh"))
    val a = base.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = base.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val genuine = a.join(broadcast(b),
        col("id_a") =!= col("id_b") &&
          (size(col("sh_b")) > size(col("sh_a")) ||
            (size(col("sh_b")) === size(col("sh_a")) && col("id_b") < col("id_a"))) &&
          graft.functions.expressions.hashContainment(col("sh_a"), col("sh_b")) >= 0.9)
      .select(col("id_a").as("dead_id")).distinct()
    dropped.join(genuine, col("doc_id") === col("dead_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** C33b: EXACT containment dedup (oracle baseline for the anchored
   * scale path): brute-force ordered pairs, kill under the same
   * (size desc, id asc) rule. The oracle replays |A∩B|/|A| over
   * string-space shingles in DuckDB, so every run re-proves
   * hash-space ≡ string-space for the asymmetric verify too (C4b
   * pattern; same ≥3-ASCII-token corpus precondition). */
  private def qDedupContainmentExact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = docs.select(col("doc_id"),
      graft.functions.expressions.wordShingleHashes(col("text"), 3).as("sh"))
    // single-file scan = one partition; spread the O(n^2) probe side
    val a = base.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = base.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val dead = a.join(broadcast(b),
        col("id_a") =!= col("id_b") &&
          (size(col("sh_b")) > size(col("sh_a")) ||
            (size(col("sh_b")) === size(col("sh_a")) && col("id_b") < col("id_a"))) &&
          graft.functions.expressions.hashContainment(col("sh_a"), col("sh_b")) >= 0.9)
      .select(col("id_a").as("dead_id")).distinct()
    docs.select("doc_id")
      .join(dead, col("doc_id") === col("dead_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** C14b: EXACT transitive duplicate clusters (oracle baseline for
   * the MinHash-candidate q_dedup_clusters): exact Jaccard-threshold
   * pairs → distributed connected components → per-component min-id
   * representative. The oracle replays the same closure in DuckDB
   * with a recursive CTE over string-space shingles, so BOTH the
   * pair generation and the iterative labeling are hash-checked. */
  private def qDedupClustersExact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = docs.select(col("doc_id"),
      graft.functions.expressions.wordShingleHashes(col("text"), 3).as("sh"))
    // single-file scan = one partition; spread the O(n^2) probe side
    val a = base.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = base.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val pairs = a.join(broadcast(b),
        col("id_b") < col("id_a") &&
          graft.functions.expressions.hashJaccard(col("sh_a"), col("sh_b")) >= 0.8)
      .select("id_a", "id_b")
    val labeled = graft.operators.Components.connectedComponents(pairs, "id_a", "id_b")
    docs.select("doc_id")
      .join(labeled, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"))
      .orderBy("doc_id")
  }

  /** C5: embedding-cosine near-dup keep-table — FULL oracle since
   * r14: the hyperplane-LSH buckets verify exact cosine before any
   * drop, so the keep-table equals the exact threshold relation
   * whenever recall holds, and the oracle replays that relation
   * brute-force in DuckDB (the C5b proven-parity compare; nearest
   * pair sits 8.6e-4 from the threshold — orders above cross-engine
   * float noise). Threshold 0.6 rather than the 0.95 default: the
   * synthetic corpus has no ≥0.95 pair at either SF (the relation
   * would be vacuously all-keep), while 0.6 exercises a genuine drop
   * at sf0.1 and stays inside the LSH's exact-recall regime (probed
   * r14: 0.35 drops recall to ~0.6 — the regime LSH is NOT for). A
   * hash mismatch IS a recall regression. */
  private def qDedupEmbed(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.embeddingKeep(t(s, dir, "embeddings"), "vec_id", "embedding", 64,
        threshold = 0.6)
      .orderBy("vec_id")

  /** C5c: embedding-LSH dedup soundness — vectors dropped by the
   * bucketed pipeline with no genuine earlier ≥0.6-cosine partner
   * under brute-force comparison (threshold mirrors C5). Must be
   * empty (in-bucket drops verify exact cosine). Oracle: the empty
   * relation. */
  private def qDedupEmbedSound(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val dropped = graft.dedup.Dedup.embeddingKeep(e, "vec_id", "embedding", 64,
        threshold = 0.6)
      .filter(!col("keep")).select("vec_id")
    val a = e.repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val genuine = a.join(broadcast(b),
        col("id_b") < col("id_a") &&
          graft.dedup.Dedup.cosine(col("emb_a"), col("emb_b")) >= 0.6)
      .select(col("id_a").as("dup_id")).distinct()
    dropped.join(genuine, col("vec_id") === col("dup_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** C5b: EXACT embedding near-dup (oracle-checkable baseline for the
   * LSH-bucketed q_dedup_embed): keep a vector iff no earlier vector
   * is within the cosine threshold — brute-force pairwise, fine at
   * verify scale; the LSH variant is the 100 TB path. */
  private def qDedupEmbedExact(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // single-file scan = one partition; spread the O(n^2) probe side
    val a = e.repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val dups = a.join(broadcast(b),
        col("id_b") < col("id_a") &&
          graft.functions.expressions.cosineSim(col("emb_a"), col("emb_b")) >= 0.35)
      .select(col("id_a").as("dup_id")).distinct()
    e.join(dups, col("vec_id") === col("dup_id"), "left_anti")
      .select("vec_id")
      .orderBy("vec_id")
  }

  /** C44: SemDeDup ([[graft.dedup.SemDedup.semanticKeep]]) — k-means
   * cells over embeddings, cosine dedup only within a cell. FULL
   * oracle: DuckDB replays the distinct-value centroid seed, the
   * argmax assignment (C29's margin argument: min top1−top2 gap on
   * this corpus is orders above cross-engine float noise), and the
   * in-cell pairwise threshold (C5b's proven-parity compare). */
  private def qSemdedup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism) // single-file scan
    graft.dedup.SemDedup.semanticKeep(e, "vec_id", "embedding",
        graft.dedup.SemDedup.seedCentroids(e, "vec_id", "embedding", 8), 0.35)
      .orderBy("vec_id")
  }

  /** C13: corpus bigram heavy hitters — exact top-20 by count
   * (vocabulary/heavy-hitter statistics; Ngrams operator). */
  private def qTopNgrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ngrams.topNgrams(
      // single-file table: spread before the explode-heavy stage
      t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
      "text", n = 2, k = 20)

  /** C65 (r14): k-anonymity audit ([[graft.operators.Anonymity]]) —
   * release-gate evidence for the customer table under the classic
   * quasi-identifier triple (nation, segment, $1000 balance band):
   * every combination shared by fewer than k=3 rows re-identifies
   * its members by linkage. One map-side-combined aggregation over
   * the QI projection; nothing row-sized shuffles twice. */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame = {
    val qi = t(s, dir, "customer")
      .withColumn("bal_cents", cents(col("c_acctbal")))
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("bal_cents div 100000").as("bal_kband"))
    graft.operators.Anonymity.kAnonymityViolations(qi,
        Seq("c_nationkey", "c_mktsegment", "bal_kband"), k = 3L)
      .orderBy("c_nationkey", "c_mktsegment", "bal_kband")
  }

  /** C65 summary row: totals, rows-at-risk ppm, and the anonymity
   * level (min class size) the table actually satisfies. */
  private def qKAnonymitySummary(s: SparkSession, dir: String): DataFrame = {
    val qi = t(s, dir, "customer")
      .withColumn("bal_cents", cents(col("c_acctbal")))
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("bal_cents div 100000").as("bal_kband"))
    graft.operators.Anonymity.kAnonymitySummary(qi,
      Seq("c_nationkey", "c_mktsegment", "bal_kband"), k = 3L)
  }

  /** C64 (r14): per-source out-of-vocabulary rate
   * ([[graft.operators.Ngrams.oovStats]]) — vocabulary = tokens seen
   * ≥ 5 times corpus-wide; each source reports how much of its token
   * MASS is corpus-rare (boilerplate ids, noise, under-covered
   * languages). One corpus scan: occurrences collapse to (source,
   * token) pairs map-side, global totals re-derive from the pairs,
   * nothing occurrence-sized shuffles. Tokenizer is the byte-exact
   * `[ \t\n\r]+` kernel, so DuckDB replays token identity, the
   * threshold, and every ppm bit-for-bit. */
  private def qOovRate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ngrams.oovStats(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        "source", "text", minCount = 5L)
      .orderBy("source")

  /** C6: brute-force cosine top-5 for probe vectors (vec_id < 3). */
  private def qAnnBruteforce(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.similarity.Ann
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
      .withColumn("cos", round(col("cos"), 3))
      .orderBy("probe_id", "rank")
  }

  /** Recall-vs-bruteforce harness shared by the approximate ANN
   * queries: the approximate neighbor set itself has no SQL oracle,
   * but "recall@5 against exact top-5 is at least 0.3" is an exact,
   * deterministic claim (hyperplanes and centroids are seeded
   * deterministically) the oracle CAN assert — so the driver gate
   * hash-checks the invariant instead of recording rows-only. */
  private def annRecallCheck(emb: DataFrame,
      approx: DataFrame => DataFrame): DataFrame = {
    val probes = emb.filter(col("vec_id") < 3)
    val exact = graft.similarity.Ann
      .bruteForceTopK(emb, probes, "vec_id", "embedding", 5)
      .select(col("probe_id"), col("vec_id"))
    val hits = exact
      .join(approx(probes).select(col("probe_id").as("p"), col("vec_id").as("v")),
        col("probe_id") === col("p") && col("vec_id") === col("v"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
    probes.select(col("vec_id").as("probe_id"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        (coalesce(col("n_hit"), lit(0L)) * 10L >= 15L).as("recall_ok"))
      .orderBy("probe_id")
  }

  /** C7: LSH-bucketed approximate top-5 — oracle-checked recall
   * invariant (AnnSpec asserts the same bound on the raw lists). */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    annRecallCheck(emb,
      p => graft.similarity.Ann.lshTopK(emb, p, "vec_id", "embedding", 64, 5))
  }

  /** C86 (r15): PCA-reduced ANN (Ann.pcaTopK) — the dimensionality-
   * reduction serving path: rank in the top-32 principal subspace
   * (2× fewer FLOPs per comparison), exact re-rank the 128-candidate
   * shortlist in full space. The synthetic corpus is near-ISOTROPIC
   * (flat spectrum — the regime dimension reduction is hardest in),
   * so the knobs sit wider than a real embedding corpus with a
   * decaying spectrum would need; the recall invariant is checked
   * either way. Deterministic fit (exact-integer moments
   * + fixed Jacobi) → the same oracle-checked recall invariant as the
   * other approximate ANN queries. */
  private def qAnnPca(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    annRecallCheck(emb,
      p => graft.similarity.Ann.pcaTopK(emb, p, "vec_id", "embedding", 64, 5,
        reduceK = 32, shortlist = 128))
  }

  /** C87 (r16): ANN recall panel — index QUALITY as an asserted
   * oracle row. The per-query ANN rows pin per-probe recall@5 ≥ 0.3
   * on 3 probes (a plumbing-level floor); nothing on the r15 board
   * failed if index quality silently DEGRADED — e.g. a
   * centroid-seeding change halving recall would have sailed through
   * every contract. This row measures AGGREGATE recall@5 over 20
   * probes for every production path against the exact brute-force
   * top-5 and asserts a per-path floor (the B7/B18b
   * approximate-oracle pattern: the floor booleans are the hashed
   * relation; the floors themselves are documented measurements).
   *
   * Measured recall_ppm (k=5, 20 probes, the committed knobs):
   *   sf0.01: ivf 850k, ivfpq 670k, lsh 650k, pca 1000k, pq 640k
   *   sf0.1:  ivf 890k, ivfpq 510k, lsh 720k, pca 940k,  pq 470k
   * Floors sit ~30% under the weaker SF so corpus growth has room
   * (quantizers are seeded deterministically — the measurement is
   * exact per corpus, the margin absorbs future SFs, not host noise)
   * while a halving still fails loudly. The exact top-5 is computed
   * ONCE and eagerly checkpointed — its output is 20 probes × k rows
   * (bounded by construction), but its lineage is the full
   * brute-force corpus scan, which five per-path semi-joins plus the
   * denominator would otherwise replay up to ten times (the r4
   * materialization rule's clearest case). */
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 20)
    val k = 5
    // r20 (guide §2.6 — the trainBoth precedent widened): each path's
    // construction runs its own driver-side training chain (Lloyd
    // collect loops, PQ codebooks, the PCA gram aggregate) and the
    // five chains share no state, so they build CONCURRENTLY from a
    // small named pool while the exact brute-force top-5 materializes
    // on this thread. Every chain's plans, collects, and reduction
    // order are exactly as sequential — quantizers and results are
    // bit-identical; only the wall-clock overlap changes.
    val defs: Seq[(String, Long, () => DataFrame)] = Seq(
      ("ivf", 600000L,
        () => graft.similarity.Ann.ivfTopK(emb, probes, "vec_id", "embedding", 64, k)),
      ("ivfpq", 350000L,
        () => graft.similarity.Ann.ivfPqTopK(emb, probes, "vec_id", "embedding", 64, k)),
      ("lsh", 450000L,
        () => graft.similarity.Ann.lshTopK(emb, probes, "vec_id", "embedding", 64, k)),
      ("pca", 700000L,
        () => graft.similarity.Ann.pcaTopK(emb, probes, "vec_id", "embedding", 64, k,
          reduceK = 32, shortlist = 128)),
      ("pq", 330000L,
        () => graft.similarity.Ann.pqTopK(emb, probes, "vec_id", "embedding", 64, k)))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => { val th = new Thread(r, "graft-ann-recall"); th.setDaemon(true); th })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val (exact, nExact, paths) = try {
      val futures = defs.map { case (name, floor, mk) => (name, floor, Future(mk())) }
      val ex = graft.similarity.Ann
        .bruteForceTopK(emb, probes, "vec_id", "embedding", k)
        .select(col("probe_id"), col("vec_id"))
        .localCheckpoint()
      (ex, ex.count(), futures.map { case (name, floor, f) =>
        (name, floor, Await.result(f, Duration.Inf)) })
    } finally pool.shutdown()
    paths.map { case (name, floorPpm, approx) =>
      exact.join(
          approx.select(col("probe_id").as("p"), col("vec_id").as("v")),
          col("probe_id") === col("p") && col("vec_id") === col("v"),
          "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(
          lit(name).as("path"),
          lit(k.toLong).as("k"),
          lit(20L).as("n_probes"),
          lit(floorPpm).as("floor_ppm"),
          (col("n_hit") * 1000000L >= lit(nExact * floorPpm)).as("recall_ok"))
    }.reduce(_ unionAll _).orderBy("path")
  }

  /** C7b: IVF approximate top-5 (deterministic sampled centroids,
   * multiprobe) — oracle-checked recall invariant. */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    annRecallCheck(emb,
      p => graft.similarity.Ann.ivfTopK(emb, p, "vec_id", "embedding", 64, 5))
  }

  /** C7e: product-quantization ANN (Ann.pqTopK) — the corpus encodes
   * to m=8 one-byte codes per vector (32x smaller than the raw
   * floats), probes scan the codes via precomputed ADC tables
   * (lookups, no float math), and a 32-candidate shortlist re-ranks
   * with exact cosine. Deterministic codebooks (lowest-id init + 3
   * Lloyd rounds) → the same oracle-checked recall invariant as the
   * other approximate ANN queries. */
  private def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    annRecallCheck(emb,
      p => graft.similarity.Ann.pqTopK(emb, p, "vec_id", "embedding", 64, 5))
  }

  /** C7f: IVFADC (Ann.ivfPqTopK) — coarse cells bound the scan (equi
   * join on cell id, nProbe multiprobe) while PQ codes cut what the
   * scanned rows cost (ADC table lookups); exact re-rank restores
   * true-cosine order. Deterministic quantizers → the same
   * oracle-checked recall invariant as the other ANN queries. */
  private def qAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    annRecallCheck(emb,
      p => graft.similarity.Ann.ivfPqTopK(emb, p, "vec_id", "embedding", 64, 5))
  }

  /** C7c: PERSISTED IVF index end-to-end — build the cell-partitioned
   * index to a scratch dir, then answer probes through
   * [[graft.similarity.Ann.ivfTopKIndexed]], whose scan is statically
   * pruned to the probes' multiprobe cells (AnnSpec asserts the
   * partition count on the physical scan). Same oracle-checked recall
   * invariant as q_ann_ivf. */
  private def qAnnIvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idx = withBuiltIndex(s, dir, "ivf_index")(
      graft.similarity.Ann.buildIvfIndex(emb, "vec_id", "embedding", 64, _))
    annRecallCheck(emb,
      p => graft.similarity.Ann.ivfTopKIndexed(idx, p, "vec_id", "embedding", 64, 5))
  }

  /** C7d: INCREMENTAL index maintenance — build the cell-partitioned
   * IVF index on the first half of the corpus, append the second half
   * through the FROZEN quantizer ([[graft.similarity.Ann
   * .appendToIvfIndex]] — no retrain, one assignment pass + a
   * partitioned append), then answer probes over the combined index.
   * Same oracle-checked recall invariant as q_ann_ivf_indexed: the
   * appended half must be as findable as the built half. */
  private def qAnnIvfAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idx = withBuiltIndex(s, dir, "ivf_append") { p =>
      // bounded driver scalar, same class as the build's centroid train
      val mid = emb.agg(((min("vec_id") + max("vec_id")) / 2).cast("long"))
        .head().getLong(0)
      graft.similarity.Ann.buildIvfIndex(
        emb.filter(col("vec_id") <= mid), "vec_id", "embedding", 64, p)
      graft.similarity.Ann.appendToIvfIndex(p,
        emb.filter(col("vec_id") > mid), "vec_id", "embedding", 64)
    }
    annRecallCheck(emb,
      p => graft.similarity.Ann.ivfTopKIndexed(idx, p, "vec_id", "embedding", 64, 5))
  }

  /** C7g: the persisted-IVFADC serving composition — [[graft
   * .similarity.Ann.buildIvfPqIndex]] once (coarse cells + PQ codes
   * stored cell-partitioned, quantizers alongside), then [[graft
   * .similarity.Ann.ivfPqTopKIndexed]] per probe set: stored-quantizer
   * ADC scan over statically-pruned cells reading codes only, exact
   * re-rank from the same cells. Closes the r8 structure gap where
   * q_ann_ivfpq retrained both quantizers inside the query. Same
   * oracle-checked recall invariant as q_ann_ivf_indexed. The second
   * half of the corpus arrives via [[graft.similarity.Ann
   * .appendToIvfPqIndex]] through FROZEN quantizers, so the recall
   * gate also proves appended vectors are as findable as built ones
   * (C7d parity for the compressed index). */
  private def qAnnIvfPqIndexed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idx = withBuiltIndex(s, dir, "ivfpq_index") { p =>
      val mid = emb.agg(((min("vec_id") + max("vec_id")) / 2).cast("long"))
        .head().getLong(0)
      graft.similarity.Ann.buildIvfPqIndex(
        emb.filter(col("vec_id") <= mid), "vec_id", "embedding", 64, p)
      graft.similarity.Ann.appendToIvfPqIndex(p,
        emb.filter(col("vec_id") > mid), "vec_id", "embedding", 64)
    }
    annRecallCheck(emb,
      p => graft.similarity.Ann.ivfPqTopKIndexed(idx, p, "vec_id", "embedding", 64, 5))
  }

  /** C7h (r18): IVF index DELETE path ([[graft.similarity.Ann
   * .deleteFromIvfIndex]] / [[graft.similarity.Ann.vacuumIvfIndex]])
   * — the erasure half of index maintenance: without it an A30 erase
   * of a doc whose embedding is indexed leaves the subject
   * RETRIEVABLE by similarity search. The query builds a fresh index
   * on the first half of the corpus (fresh per execution — deletes
   * MUTATE the index, so the shared cached-index helper cannot serve
   * here), dooms every probe's pre-delete top-5 (probes themselves
   * exempted so the probe relation stays fixed), tombstones them,
   * then APPENDS the second half — the erase must survive later
   * ingest. Three invariants per probe, all driver-checked on
   * bounded (≤15-row) lists: the post-delete top-5 contains no
   * doomed id (tombstone masking works through an append); recall
   * ≥ 3/5 against brute force over the corpus MINUS the doomed ids
   * (deletion must not degrade the index for surviving vectors); and
   * a physical [[vacuumIvfIndex]] changes not one answer (masking ≡
   * reclamation). The default compact threshold leaves this delete
   * as pure tombstones at sf0.01, so the masking path — not just the
   * rewrite — is what the first search exercises. */
  private def qAnnIvfDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val idx = s"${graft.Scratch.root(s)}/ivf_delete_${sinkSeq.incrementAndGet()}"
    val mid = emb.agg(((min("vec_id") + max("vec_id")) / 2).cast("long"))
      .head().getLong(0)
    graft.similarity.Ann.buildIvfIndex(
      emb.filter(col("vec_id") <= mid), "vec_id", "embedding", 64, idx)
    val probes = emb.filter(col("vec_id") < 3)
    def search() = graft.similarity.Ann
      .ivfTopKIndexed(idx, probes, "vec_id", "embedding", 64, 5)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSeq
    val doomedIds = search().map(_._2).filter(_ >= 3L).distinct.sorted
    // r20 (guide §2.6): the brute-force twin depends only on doomedIds
    // (it reads the raw embeddings, never the index), so it computes
    // on a side thread WHILE the delete → append → search → vacuum →
    // search protocol mutates the index on this one — the mutation
    // sequence itself stays strictly ordered.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => { val th = new Thread(r, "graft-ivf-delete-exact"); th.setDaemon(true); th })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val (after, after2, exact) = try {
      val fExact = Future(graft.similarity.Ann.bruteForceTopK(
          emb.filter(!col("vec_id").isin(doomedIds: _*)), probes,
          "vec_id", "embedding", 5)
        .select("probe_id", "vec_id").as[(Long, Long)].collect().toSeq)
      graft.similarity.Ann.deleteFromIvfIndex(
        idx, doomedIds.toDF("vec_id"), "vec_id")
      graft.similarity.Ann.appendToIvfIndex(
        idx, emb.filter(col("vec_id") > mid), "vec_id", "embedding", 64)
      val a = search()
      graft.similarity.Ann.vacuumIvfIndex(s, idx, "vec_id")
      (a, search(), Await.result(fExact, Duration.Inf))
    } finally pool.shutdown()
    val doomed = doomedIds.toSet
    probes.select("vec_id").as[Long].collect().sorted.toSeq.map { p =>
      val a = after.collect { case (`p`, v) => v }.toSet
      val a2 = after2.collect { case (`p`, v) => v }.toSet
      val e = exact.collect { case (`p`, v) => v }.toSet
      (p, a.intersect(doomed).isEmpty, a.intersect(e).size * 10 >= 30, a == a2)
    }.toDF("probe_id", "deleted_excluded", "recall_ok", "vacuum_consistent")
      .orderBy("probe_id")
  }

  /** C8: heuristic language ID — per-doc predictions, hash-checked
   * against a faithful SQL mirror of the marker-argmax heuristic
   * (valid for this ASCII corpus, where both tokenizers agree; the
   * kernel's CJK branch and ≥0x80 word bytes never trigger). TextSpec
   * additionally checks real multilingual samples — the synthetic
   * corpus' lang labels are uncorrelated with its text. */
  private def qLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** C9: text quality metrics (SQL-expressible → full oracle). */
  private def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    // spread: five text kernels per doc on a one-task scan otherwise
    val d = graft.dedup.Dedup.spread(t(s, dir, "documents"))
    d.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(TextFunctions.wsTokens(col("text"))).cast("long").as("n_words"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.digitRatio(col("text")).as("digit_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** C10: token counting — whitespace and BPE-ish pre-tokenization. */
  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(TextFunctions.wsTokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(TextFunctions.bpeishTokens(col("text"))).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** C11: winnowed rolling-hash document fingerprint (custom codegen'd
   * expression; rows-only + spec). */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    // winnow(k=8, w=16) sample size is provably in [1, max(1, chars-22)]
    // (≤ one pick per window start, ≥ one overall); the 64-bit FNV/mix
    // values themselves are not SQL-portable, so the oracle checks the
    // per-doc bound plus a corpus-level injectivity flag (distinct
    // texts → distinct fingerprints — a collision among the corpus
    // would flip it)
    // perDoc carries text only so ONE aggregate yields both scalars;
    // Catalyst prunes per branch: the output branch never computes
    // count_distinct, and the aggregate branch prunes the winnow kernel
    // (only fp64+text survive into it) — so winnow runs once and the
    // corpus is scanned twice total (output + scalar agg), not 3×
    val perDoc = t(s, dir, "documents")
      .select(
        col("doc_id"),
        col("text"),
        length(col("text")).cast("long").as("n_chars"),
        graft.functions.expressions.fingerprint64(col("text")).as("fp64"),
        size(graft.functions.expressions.winnow(col("text"))).cast("long").as("n_winnow"))
    val scalars = perDoc.agg(
      count_distinct(col("fp64")).as("n_fps"),
      count_distinct(col("text")).as("n_texts"))
    perDoc
      .crossJoin(broadcast(scalars))
      .select(col("doc_id"), col("n_chars"),
        (col("n_winnow") >= 1L &&
          col("n_winnow") <= greatest(lit(1L), col("n_chars") - 22L)).as("winnow_in_range"),
        (col("n_fps") === col("n_texts")).as("fp_injective"))
      .orderBy("doc_id")
  }

  /** C15: PII redaction — codegen'd URL/email/phone regexp scrub
   * (engine-portable patterns; full oracle). */
  private def qPiiRedact(s: SparkSession, dir: String): DataFrame =
    withContact(t(s, dir, "documents"))
      .select(col("doc_id"), TextFunctions.redactPii(col("raw")).as("clean"))
      .orderBy("doc_id")

  /** C88 (r16): checksum-validated PAN audit + redaction
   * ([[graft.text.Pii]]) — the precision upgrade over C15's
   * pattern-only scrub: a bare digit-run regex flags order numbers
   * and tracking ids as card numbers, and a 1% false-positive
   * redaction rate destroys real training text at corpus scale.
   * Candidates (13–19-digit maximal runs, RE2-safe — no lookarounds)
   * are VALIDATED with the Luhn mod-10 checksum; only checksum-passing
   * runs redact. The corpus plants, on every 11th doc, one
   * 16-digit and one 13-digit run derived from doc_id (valid exactly
   * when the arithmetic lands on a mod-10 fixpoint — roughly 1 in 10,
   * decided by the checksum itself, not by the plant) plus a short
   * run the length filter must reject. The oracle replays extraction,
   * checksum, and fold-replace redaction on the same text. */
  private def qPiiLuhn(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").withColumn("raw",
      when(col("doc_id") % 11 === 0, concat(
        col("text"), lit(" acct 4"),
        lpad(pmod(col("doc_id") * 7919L + 13L, lit(1000000000000000L))
          .cast("string"), 15, "0"),
        lit(" tx "),
        lpad(pmod(col("doc_id") * 104729L + 7L, lit(10000000000000L))
          .cast("string"), 13, "0"),
        lit(" ref "), pmod(col("doc_id"), lit(100000L)).cast("string")))
        .otherwise(col("text")))
    graft.text.Pii.panAudit(planted, "doc_id", "raw").orderBy("doc_id")
  }

  /** C46: Unicode corpus normalization (functions.NormalizeText —
   * codegen'd NFC + accent-strip + case-fold + whitespace-collapse
   * kernel with an ASCII fast path). The documents table is pure
   * ASCII, so the query first builds a DETERMINISTIC messy variant —
   * uppercased head, decomposed combining-acute injections, a
   * composed-é / Angstrom-sign tail, tab + double-space runs — then
   * normalizes it two ways (with and without accent stripping). The
   * oracle replays the construction and the normalize→strip→fold→
   * collapse order through DuckDB's utf8proc (nfc_normalize /
   * strip_accents / lower) — two independent Unicode stacks agreeing
   * byte-for-byte on every row. */
  private def qNormalizeText(s: SparkSession, dir: String): DataFrame = {
    val messy = concat(
      upper(substring(col("text"), 1, 40)), lit("  \t"),
      regexp_replace(substring(col("text"), 41, 40), "a", "á"),
      lit(" café ANGSTROM Å end "))
    t(s, dir, "documents")
      .select(col("doc_id"), messy.as("messy"))
      .select(col("doc_id"),
        graft.functions.expressions.normalizeText(col("messy"), "NFC",
          stripAccents = false, caseFold = true, collapseWs = true).as("norm"),
        graft.functions.expressions.normalizeText(col("messy"), "NFC",
          stripAccents = true, caseFold = true, collapseWs = true).as("norm_bare"))
      .orderBy("doc_id")
  }

  /** C47: fixed-point unigram surprisal (text/Surprisal.scala) — the
   * perplexity-proxy quality score with −log2 quantized to bit length
   * (`length(bin(count))`, identical on both engines), so rare-token
   * density is scored in whole bits with zero floats. Monotone in
   * 1/frequency; the ppm-PageRank verifiability trade again. */
  private def qSurprisal(s: SparkSession, dir: String): DataFrame =
    graft.text.Surprisal.docSurprisal(t(s, dir, "documents"))
      .orderBy("doc_id")

  /** C16: URL domain extraction + per-domain corpus stats. */
  private def qDomainStats(s: SparkSession, dir: String): DataFrame =
    withContact(t(s, dir, "documents"))
      .select(TextFunctions.extractDomain(col("raw")).as("domain"), col("doc_id"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .orderBy("domain")

  /** C17: benchmark decontamination — training docs sharing any word
   * 4-gram with the doc_id%97 benchmark slice (full oracle; the
   * operator joins on gram hashes, the oracle on gram strings). */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.text.Decontaminate.markContaminated(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text", n = 4)
      .orderBy("doc_id")
  }

  /** C54 (r14): SEMANTIC decontamination ([[graft.text.Decontaminate
   * .markContaminatedSemantic]]) — flag corpus vectors within cosine
   * 0.35 of any benchmark vector (every 25th vec id): the
   * meaning-level leak the n-gram ladder (C17/C17b/C17c) misses on
   * paraphrases. Benchmark broadcasts whole; one corpus scan, exact
   * recall (no LSH — the r14 probe showed ~0.6 recall at mid-range
   * cosines). Integer hit counts keep the row float-hash-safe; the
   * threshold compare uses the identical `cos*1000 >= 350` form on
   * both engines (the C5b parity precedent). */
  private def qDecontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.text.Decontaminate.markContaminatedSemantic(
        emb.filter(col("vec_id") % 25 =!= 0),
        emb.filter(col("vec_id") % 25 === 0),
        "vec_id", "embedding", thresholdMilli = 350)
      .orderBy("vec_id")
  }

  /** C17b: Bloom-accelerated decontamination ([[graft.text
   * .Decontaminate.markContaminatedBig]]) — the many-benchmark regime
   * where the gram set no longer broadcasts: bloom-prune the corpus
   * gram stream at the scan, exact-confirm over the pruned slice with
   * a shuffle join. Bloom false positives die in the exact join, so
   * the row shares q_decontaminate's oracle verbatim — the driver
   * hash-compare IS the equivalence gate. */
  private def qDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.text.Decontaminate.markContaminatedBig(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text", n = 4)
      .orderBy("doc_id")
  }

  /** C17c: SPAN-level decontamination ([[graft.text.Decontaminate
   * .exciseContaminated]]) — cut exactly the benchmark-overlapping
   * token spans, keep the document. Full string-space oracle: DuckDB
   * replays the same whitespace tokenization, gram-start hits,
   * [i, i+n) cover merge, and ordered token rebuild, so clean_text is
   * hash-compared byte-for-byte. */
  private def qDecontaminateSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.text.Decontaminate.exciseContaminated(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text", n = 4)
      .orderBy("doc_id")
  }

  /** C42: corpus-global duplicate-span excision ([[graft.text.DupSpans
   * .exciseDuplicateSpans]]) — every non-canonical occurrence of a
   * 5-gram appearing ≥2 times corpus-wide is cut, one canonical copy
   * (lowest (doc_id, pos)) survives. Full string-space oracle: DuckDB
   * replays the tokenization, gram counting, canonical pick, [i, i+n)
   * cover merge, and ordered rebuild; clean_text hash-compares
   * byte-for-byte. */
  private def qDupSpans(s: SparkSession, dir: String): DataFrame =
    graft.text.DupSpans.exciseDuplicateSpans(
        t(s, dir, "documents"), "doc_id", "text", n = 5, minCount = 2L)
      .orderBy("doc_id")

  /** C18: per-language quota sampling by deterministic hash order. */
  private def qQuotaSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .quotaSample(t(s, dir, "documents").select("doc_id", "lang"), "lang", "doc_id", 30)
      .orderBy("lang", "doc_id")

  /** C19: sequential token packing into 512-token context windows,
   * sharded by source (concat-then-split pretraining batches). */
  private def qPackSequences(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .packSequences(t(s, dir, "documents"), "source", "doc_id",
        size(graft.functions.expressions.wordNgrams(col("text"), 1)), 512L)
      .select("source", "doc_id", "n_tok", "chunk_id", "chunk_off")
      .orderBy("source", "doc_id")

  /** C19b: materialized packing (Sampling.materializePack) — the
   * actual training sequences: per (source, chunk), documents
   * concatenated in pack order. The chunk text is projected through
   * md5 so the verify artifact stays small while the oracle still
   * value-checks every byte of every concatenation (DuckDB replays
   * the cumulative-offset assignment AND the ordered string_agg, then
   * hashes identically). */
  private def qPackMaterialize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .materializePack(t(s, dir, "documents"), "source", "doc_id", "text",
        size(graft.functions.expressions.wordNgrams(col("text"), 1)), 512L)
      .select(col("source"), col("chunk_id"), col("n_docs"), col("chunk_tok"),
        md5(col("chunk_text").cast("binary")).as("text_md5"))
      .orderBy("source", "chunk_id")

  /** C20: TF-IDF top-3 terms per document (rational idf → exact
   * cross-engine reproducibility; full oracle). */
  private def qTfidf(s: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.topTerms(t(s, dir, "documents"), "doc_id", "text", 3)
      .orderBy("doc_id", "rnk")

  /** C43: BM25 ranked retrieval ([[graft.text.TfIdf.bm25TopK]]) —
   * top-10 documents for a 3-term query under fixed-point BM25
   * (rational-odds idf, one 64-bit integer division per term at ppm
   * scale), FULL oracle: DuckDB replays tf/df/dl/N/S and the exact
   * integer formula, so unlike the ln-based [[graft.text.TfIdf.bm25]]
   * every score hash-compares bit-for-bit. */
  private def qBm25(s: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("vector", "stream", "window"), 10)
      .orderBy(col("score_ppm").desc, col("doc_id"))

  /** C21: corpus length histogram — fixed-width buckets over document
   * length (the length-distribution summary every corpus audit
   * starts with). Bucket arithmetic is plain integer math (no
   * width_bucket dialect risk). */
  private def qLengthHist(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("bucket", expr("least(n_chars div 200, 9L)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .orderBy("bucket")

  /** C22: per-source corpus quality audit — ratio-of-integer-sums
   * (punct/digit chars over total chars, tokens per doc), exact
   * regardless of reduction order; explicit ASCII char classes so
   * both regex engines count identically. */
  private def qSourceQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"),
        length(col("text")).cast("long").as("chars"),
        size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9 \\t\\n\\r]"), lit(0))).cast("long").as("punct"),
        size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).cast("long").as("digits"),
        size(graft.functions.expressions.wordNgrams(col("text"), 1)).cast("long").as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("chars").as("sum_chars"),
        // parts-per-million in integer space: ratio-of-integer-sums as a
        // double hash-mismatched the driver once (r03) despite local
        // bit-identity, so the audit emits no doubles at all
        expr("sum(punct) * 1000000 div sum(chars)").as("punct_ppm"),
        expr("sum(digits) * 1000000 div sum(chars)").as("digit_ppm"),
        expr("sum(toks) * 1000 div count(1)").as("toks_per_kdoc"))
      .orderBy("source")

  /** C56 (r14): corpus-order NOVELTY / memorization-risk scoring —
   * per doc, the fraction of its distinct 3-gram shingles already
   * seen in an EARLIER doc (first occurrence = min doc id per gram):
   * the cross-document complement of C23's within-doc repetition and
   * the graded signal dedup's binary keep/drop can't express
   * (curriculum ordering, near-dup-tail weighting, memorization-risk
   * audits score by HOW MUCH of a doc is recycled). Scale shape: one
   * gram-keyed min aggregate (map-side combined) + one join back on
   * the gram hash + one doc rollup — all hash-keyed shuffles, nothing
   * global; the shingle kernel is the codegen'd wordShingleHashes,
   * hash-space ≡ string-space re-proven by the string-replaying
   * oracle per run (the C40 argument). Shingle-less docs report 0
   * grams and a NULL ratio (integer div by zero is NULL in both
   * engines). */
  private def qNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val grams = docs.select(col("doc_id"),
      explode(graft.functions.expressions.wordShingleHashes(
        coalesce(col("text"), lit("")), 3)).as("gh"))
    val first = grams.groupBy("gh").agg(min("doc_id").as("first_id"))
    val per = grams.join(first, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_id") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("seen_ppm", expr("n_seen * 1000000 div n_grams"))
      .orderBy("doc_id")
  }

  /** C23: within-document repetition audit (Gopher-style signal) —
   * unique-token and unique-2-gram rates per source as ppm of
   * integer sums; the n-gram kernel is the codegen'd wordNgrams. */
  private def qRepetition(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.expressions.wordNgrams(col("text"), 1)
    val grams = graft.functions.expressions.wordNgrams(col("text"), 2)
    t(s, dir, "documents")
      .select(col("source"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_utok"),
        size(grams).cast("long").as("n_2g"),
        size(array_distinct(grams)).cast("long").as("n_u2g"))
      .groupBy("source")
      .agg(sum("n_tok").as("sum_tok"),
        expr("sum(n_utok) * 1000000 div sum(n_tok)").as("uniq_tok_ppm"),
        expr("sum(n_u2g) * 1000000 div sum(n_2g)").as("uniq_2g_ppm"))
      .orderBy("source")
  }

  /** C89 (r16): per-doc Gopher repetition FILTER — the missing half of
   * the Gopher rule suite: C23 audits per-source unique-token/2-gram
   * RATES, but the published filter drops individual documents whose
   * most frequent word n-gram covers too many characters (top-2-gram
   * > 0.20, top-3 > 0.18, top-4 > 0.16 of chars). One codegen'd pass
   * per row ([[graft.functions.expressions.gopherTopPpm]] — tokenize
   * once, hash-count grams per n, truncating ppm), ZERO shuffle: the
   * per-doc mode never explodes n-grams into the plan. The corpus
   * plants a 12× repeated phrase on every 9th doc, which must breach
   * all three thresholds; the oracle recomputes every doc's three
   * ppms (count × gram chars × 10⁶ / text chars, lex-smallest gram on
   * count ties) and the verdict from the raw text. */
  private def qGopherFilter(s: SparkSession, dir: String): DataFrame = {
    val raw = when(col("doc_id") % 9 === 0,
      concat(col("text"), expr("repeat(' buy cheap now', 12)")))
      .otherwise(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.expressions.gopherTopPpm(raw, 2, 4).as("ppms"))
      .select(col("doc_id"), col("source"),
        col("ppms")(0).as("top2_ppm"),
        col("ppms")(1).as("top3_ppm"),
        col("ppms")(2).as("top4_ppm"))
      .withColumn("pass",
        col("top2_ppm") <= 200000L && col("top3_ppm") <= 180000L &&
          col("top4_ppm") <= 160000L)
      .orderBy("doc_id")
  }

  /** C90 (r16): hashing-trick linear quality classifier INFERENCE —
   * how learned quality filters (fastText-style) actually serve at
   * corpus scale: token → 64-bit hash → weight bucket (2¹⁶ here) →
   * Σ weights, one codegen'd pass per row
   * ([[graft.functions.expressions.hashedLinearScore]]), no
   * vocabulary broadcast, no explode, no shuffle until the per-source
   * rollup. The weight table is a deterministic seeded function of
   * the bucket (mix64(bucket ⊕ seed) mod 2001 − 1000) standing in
   * for the trained array — identical plumbing, and what makes the
   * FULL cross-engine oracle possible: DuckDB replays tokenizer,
   * FNV-1a, bucketing, the mix64 weight, and the occurrence-weighted
   * sum per doc, then the keep verdict and per-source rollup. */
  private def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.expressions
          .hashedLinearScore(col("text"), 65536L, 1442695040888963407L)
          .as("score"))
      .withColumn("keep", col("score") >= 0L)
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum("score").as("sum_score"),
        min("score").as("min_score"), max("score").as("max_score"))
      .orderBy("source")
  }

  /** C24: deterministic corpus split — md5(doc_id) hex-prefix bucket
   * (identical bytes in any engine/language, stable under
   * repartitioning and retries), 90/5/5 train/val/test. */
  private def qHashSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("bucket",
        expr("conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)").cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("source")).as("n_sources"),
        min("bucket").as("min_bucket"), max("bucket").as("max_bucket"))
      .orderBy("split")

  /** C55 (r14): leakage-safe train/val/test split — split assignment
   * at NEAR-DUP-CLUSTER granularity, not per doc: a per-doc hash
   * split (C24) lets two near-duplicates straddle train and test,
   * leaking training content into evaluation. Clusters come from the
   * same verified MinHash pairs as C14; the whole cluster hashes to
   * one split via the C24 md5-bucket arithmetic on the CLUSTER id.
   * One CC pass + one codegen'd hash per row — no extra shuffle over
   * C14. The oracle replays closure + bucket arithmetic and the
   * no-straddle property follows by construction (split is a pure
   * function of cluster_id). */
  private def qLeakageSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = graft.dedup.Dedup
      .minhashCandidates(docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.8)
    graft.operators.Components.dedupClusters(docs, "doc_id", pairs)
      .withColumn("bucket",
        expr("conv(substring(md5(concat('lsplit:', cast(cluster_id as string))), 1, 8), 16, 10)")
          .cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val")
          .otherwise("test"))
      .select("doc_id", "cluster_id", "bucket", "split")
      .orderBy("doc_id")
  }

  /** C60 (r14): per-source dataset card — the one-page audit manifest
   * a corpus release ships with (docs, tokens, exact-dup rate,
   * dominant predicted language, median length), composed from the
   * verified C-operators' kernels: wordNgrams token counts (C10),
   * langId (C8) summarized by the B85 deterministic mode, exact-dup
   * ppm from md5 distinct (C1's key), and the median via
   * bounded-domain cumulative counts (the B67 pattern — no
   * all-values percentile state). One pass over the corpus feeds
   * every column; everything after runs on bounded per-source
   * relations. */
  private def qDatasetCard(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "documents")
      .select(col("source"), coalesce(col("text"), lit("")).as("text"))
      .select(col("source"),
        size(graft.functions.expressions.wordNgrams(col("text"), 1))
          .cast("long").as("toks"),
        md5(col("text")).as("h"),
        TextFunctions.langId(col("text")).as("lang"),
        length(col("text")).cast("long").as("chars"))
    val base = per.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
        countDistinct("h").as("n_distinct"))
      .withColumn("dup_ppm",
        expr("(n_docs - n_distinct) * 1000000 div n_docs"))
    val langMode = graft.operators.Mode
      .groupedMode(per.select("source", "lang"), Seq("source"), "lang")
      .select(col("source"), col("mode_value").as("top_lang"),
        col("mode_count"))
    val wsrc = Window.partitionBy("source")
    val med = per.groupBy("source", "chars").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wsrc.orderBy("chars")))
      .withColumn("tot", sum("c").over(wsrc))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy("source").agg(min("chars").as("median_chars"))
    base.join(langMode, "source").join(med, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("dup_ppm"),
        col("top_lang"),
        expr("mode_count * 1000000 div n_docs").as("top_lang_ppm"),
        col("median_chars"))
      .orderBy("source")
  }

  /** C62 (r14): temperature-balanced mixture weights — the standard
   * multilingual/multi-source balancing (weights ∝ n^α, α = 1/2):
   * proportional sampling drowns small sources, uniform overweights
   * them; the square-root temperature is the published middle ground.
   * Exactness: isqrt via floor(sqrt(double)) — IEEE sqrt is
   * CORRECTLY ROUNDED in both engines, and floor of it on integer
   * inputs < 2⁵² is the exact integer square root, so the whole plan
   * stays in replayable integer space (the C57 planning arithmetic
   * downstream of it unchanged). One token rollup per source + a
   * 1-row broadcast total. */
  private def qMixtureTemperature(s: SparkSession, dir: String): DataFrame = {
    val budget = 750000L
    val perSource = t(s, dir, "documents")
      .select(col("source"),
        size(graft.functions.expressions.wordNgrams(
          coalesce(col("text"), lit("")), 1)).cast("long").as("toks"))
      .groupBy("source").agg(sum("toks").as("n_tokens"))
      .withColumn("weight",
        expr("cast(floor(sqrt(cast(n_tokens as double))) as bigint)"))
    val tot = perSource.agg(sum("n_tokens").as("tot_tokens"),
      sum("weight").as("tot_weight"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("weight"),
        expr("n_tokens * 1000000 div tot_tokens").as("prop_share_ppm"),
        expr("weight * 1000000 div tot_weight").as("temp_share_ppm"),
        expr(s"$budget * (weight * 1000000 div tot_weight) div 1000000")
          .as("planned_tokens"))
      .withColumn("boost_ppm",
        col("temp_share_ppm") - col("prop_share_ppm"))
      .orderBy("source")
  }

  /** C61 (r14): RAG retrieval flagship — the chunk→index→query
   * composition a retrieval pipeline actually runs: strided context
   * chunks (C35's codegen'd kernel), BM25 statistics over the CHUNK
   * corpus (C43's fixed-point scoring — integer ppm end to end), and
   * top-5 answers for three bag-of-words queries via TakeOrdered
   * (per-partition heads + a k-row driver merge, never a global
   * sort). The composition row verifies the chunk-id contract and
   * tokenization agreement between the two operators that no
   * per-operator oracle sees together. (A deployment shares the
   * tf/df/stats relations across queries; the three branches here
   * make each query's plan independently auditable.) */
  private def qRagTopk(s: SparkSession, dir: String): DataFrame = {
    val chunks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.functions.expressions.wordChunksStrided(
          coalesce(col("text"), lit("")), 64, 48)))
      .select((col("doc_id") * 1000L + col("pos")).as("chunk_id"),
        col("col").as("chunk"))
    val queries = Seq(
      ("q_vector", Seq("vector", "stream", "window")),
      ("q_join", Seq("join", "merge", "batch")),
      ("q_cust", Seq("customer", "order", "line")))
    queries.map { case (qn, terms) =>
      graft.text.TfIdf.bm25TopK(chunks, "chunk_id", "chunk", terms, 5)
        .withColumn("query", lit(qn))
    }.reduce(_.unionByName(_))
      .select(col("query"), col("doc_id").as("chunk_id"), col("n_terms"),
        col("score_ppm"))
      .orderBy(col("query"), col("score_ppm").desc, col("chunk_id"))
  }

  /** C58 (r14): random-projection (JL) embedding sketch
   * ([[graft.similarity.Projection]]) — every embedding reduced 64→16
   * dims against a plan-embedded md5-parity ±1 matrix (derived once
   * on the driver, the Ann-centroid bounded-state precedent), plus
   * the norm-preservation ratio (Σp²)·10⁶ div (k·Σq²) whose JL
   * expectation is 10⁶. Projections are EXACT integers (micro-unit
   * quantization before the signed dot product), so DuckDB replays
   * every output coordinate bit-for-bit — a float random projection
   * could never be hash-checked. The O(k·d) kernel runs inside
   * whole-stage codegen; the ratio diagnostics use bounded 16/64-
   * element higher-order folds. */
  private def qJlProject(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val dim = 64
    val proj = graft.similarity.Projection
      .project(t(s, dir, "embeddings"), "embedding", "proj", k, dim)
    proj
      .withColumn("q", transform(col("embedding"),
        x => round(x.cast("double") * 1000000, 0).cast("long")))
      .select(col("vec_id"),
        array_join(transform(col("proj"), _.cast("string")), ",").as("proj"),
        expr(s"""(cast(aggregate(proj, 0L, (a, x) -> a + x * x) as decimal(38,0))
                  * 1000000)
                 div nullif($k * cast(aggregate(q, 0L, (a, x) -> a + x * x)
                  as decimal(38,0)), 0)""").as("norm_ratio_ppm"))
      .orderBy("vec_id")
  }

  /** C59 (r14): rule-based weak labeling
   * ([[graft.text.WeakLabel.label]]) — four keyword rules compiled
   * into ONE codegen'd projection over the corpus (no per-rule pass,
   * no UDF, no regex union); `primary_label` is the first matching
   * rule in priority order, so the output is a pure function of data
   * + rule list. */
  private def qWeakLabel(s: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      "sql" -> Seq("join", "agg", "group"),
      "perf" -> Seq("fast", "slow"),
      "storage" -> Seq("row", "column", "table"),
      "stream" -> Seq("stream", "batch", "window"))
    graft.text.WeakLabel.label(t(s, dir, "documents"), "text", rules)
      .select(col("doc_id"), col("labels"), col("primary_label"),
        col("n_labels"))
      .orderBy("doc_id")
  }

  /** C57 (r14): token-budget mixture PLANNING — the step BEFORE C22's
   * mixture resampling: given target mixture weights and a token
   * budget, compute each source's sampling rate
   * (min(1, budget·weight ÷ available)) and the expected token yield,
   * flagging under-supplied sources (rate pinned at 1 means the
   * corpus cannot fill that slice of the budget — the signal to
   * up-weight elsewhere or upsample). One map-side token rollup per
   * source + pure integer ppm arithmetic — the whole plan is one
   * aggregate over the corpus regardless of scale; weights ride a
   * deterministic CASE (a real deployment joins a tiny weights dim).
   * Token counts via the codegen'd wordNgrams kernel. */
  private def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val budgetTokens = 100000L
    val weightPpm = when(col("source").isin("src1", "src2"), 150000L)
      .otherwise(lit(700000L / 18L)) // remaining 70% spread over 18 sources
    t(s, dir, "documents")
      .select(col("source"),
        size(graft.functions.expressions.wordNgrams(
          coalesce(col("text"), lit("")), 1)).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .withColumn("weight_ppm", weightPpm)
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr(s"$budgetTokens * weight_ppm div n_tokens")))
      .withColumn("expected_tokens", expr("n_tokens * rate_ppm div 1000000"))
      .withColumn("under_supplied", col("rate_ppm") === 1000000L)
      .orderBy("source")
  }

  /** C63 (r14): max-min fair token allocation under repetition caps
   * ([[graft.operators.Allocation.maxMinFair]]) — the allocation step
   * AFTER C57's supply check and C62's temperature weighting: every
   * source gets an equal slice of the token budget except none may
   * exceed its cap (2 epochs of its corpus here); spare capacity
   * redistributes to the others — progressive filling's closed form,
   * no iteration, all-integer. Caps are quality-tiered — sources with
   * below-average doc length get 1 epoch, the rest 3 (the tier
   * compare is an exact cross product, n_tokens·tot_docs <
   * tot_tokens·n_docs, no division) — so at budget 3/2·total the
   * low-tier sources cap out and the surplus redistributes; Σ
   * allocated ≡ budget exactly (unit-remainder spread is
   * deterministic). The global sort window runs over the per-SOURCE
   * relation (a dim), never over data; the heavy pass is the one
   * token rollup. */
  private def qFairAllocation(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "documents")
      .select(col("source"),
        size(graft.functions.expressions.wordNgrams(
          coalesce(col("text"), lit("")), 1)).cast("long").as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
    val tot = per.agg(sum("n_docs").as("tot_docs"),
      sum("n_tokens").as("tot_tokens"))
    val tiered = per.crossJoin(broadcast(tot))
      .withColumn("epochs",
        when(col("n_tokens") * col("tot_docs") < col("tot_tokens") * col("n_docs"),
          1L).otherwise(3L))
      .withColumn("cap_tokens", col("epochs") * col("n_tokens"))
      .drop("tot_docs", "tot_tokens")
    val budget = per.agg(expr("3 * sum(n_tokens) div 2").as("budget"))
    graft.operators.Allocation
      .maxMinFair(tiered, "source", "cap_tokens", budget)
      .select(col("source"), col("n_tokens"), col("epochs"),
        col("cap_tokens"), col("allocated").as("allocated_tokens"),
        col("capped"), col("fill_level"))
      .orderBy("source")
  }

  /** C66 (r14): budget materialization
   * ([[graft.operators.Sampling.budgetMaterialize]]) — C63's fair
   * allocation turned into per-doc COPY COUNTS: full epochs of every
   * doc plus a deterministic md5-prefix partial epoch, stop-before-
   * exceeding (undershoot < one doc, never an overdraw). The rollup
   * proves the materialized token mass reconciles with the plan:
   * materialized = full·n + partial-prefix sum, undershoot =
   * allocated − materialized ≥ 0. Every number integer-replayable. */
  private def qBudgetMaterialize(s: SparkSession, dir: String): DataFrame = {
    val perDoc = t(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(graft.functions.expressions.wordNgrams(
          coalesce(col("text"), lit("")), 1)).cast("long").as("toks"))
    val per = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
    val tot = per.agg(sum("n_docs").as("tot_docs"),
      sum("n_tokens").as("tot_tokens"))
    val tiered = per.crossJoin(broadcast(tot))
      .withColumn("epochs",
        when(col("n_tokens") * col("tot_docs") < col("tot_tokens") * col("n_docs"),
          1L).otherwise(3L))
      .withColumn("cap_tokens", col("epochs") * col("n_tokens"))
      .drop("tot_docs", "tot_tokens")
    val budget = per.agg(expr("3 * sum(n_tokens) div 2").as("budget"))
    val alloc = graft.operators.Allocation
      .maxMinFair(tiered, "source", "cap_tokens", budget)
    graft.operators.Sampling
      .budgetMaterialize(perDoc, "source", "doc_id", "toks", alloc)
      .groupBy("source")
      .agg(sum(when(col("copies") > 0, 1L).otherwise(0L)).as("n_docs_used"),
        max("copies").as("max_copies"),
        sum(col("copies") * col("toks")).as("materialized_tokens"))
      .join(broadcast(alloc.select(col("source"),
        col("allocated").as("allocated_tokens"))), Seq("source"))
      .withColumn("undershoot",
        col("allocated_tokens") - col("materialized_tokens"))
      .select("source", "allocated_tokens", "n_docs_used", "max_copies",
        "materialized_tokens", "undershoot")
      .orderBy("source")
  }

  /** C70 (r14): prefix-sharing report
   * ([[graft.functions.expressions.commonPrefixLen]]) — the KV-cache
   * planning statistic for inference batching: documents that share a
   * prompt prefix can share its attention cache, and the saving per
   * bucket is lcp × (n − 1). The group-wide longest common prefix
   * needs NO pairwise comparison: every member sorts between the
   * bucket's lexicographic MIN and MAX, so lcp(bucket) =
   * lcp(min, max) — two ordinary aggregates plus one codegen'd
   * comparison. */
  private def qPrefixSharing(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .groupBy(substring(col("text"), 1, 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min("text").as("mn"), max("text").as("mx"),
        sum(length(col("text"))).as("total_chars"))
      .filter(col("n_docs") >= 2)
      .withColumn("lcp_chars",
        graft.functions.expressions.commonPrefixLen(col("mn"), col("mx")))
      .withColumn("saved_chars", col("lcp_chars") * (col("n_docs") - 1))
      .select(col("bucket"), col("n_docs"), col("total_chars"),
        col("lcp_chars"), col("saved_chars"))
      .orderBy("bucket")
  }

  /** C69 (r14): cross-source exact passage overlap
   * ([[graft.functions.expressions.cdcChunks]] composed) — "which
   * sources copy from which": the pairwise matrix of byte-identical
   * CDC chunks shared across sources, with containment ppm against
   * the smaller side. Complements C45's KMV shingle ESTIMATE with
   * exact passage-level evidence. The relation that matters is the
   * DISTINCT (source, chunk-hash) set — chunk-domain sized, never
   * corpus text — and the pair join fans out at most |sources| rows
   * per hash; every (source_a, source_b) pair is emitted, zero
   * sharing included (absence is a finding). */
  private def qPassageOverlap(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("source"),
        explode(graft.functions.expressions.cdcChunks(col("text"))).as("chunk"))
      .select(col("source"), md5(col("chunk")).as("h"))
      .distinct()
    val perSrc = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = sh.as("a")
      .join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("shared"))
    val allPairs = perSrc.select(col("source").as("source_a"), col("n").as("na"))
      .crossJoin(broadcast(
        perSrc.select(col("source").as("source_b"), col("n").as("nb"))))
      .filter(col("source_a") < col("source_b"))
    allPairs
      .join(shared,
        col("source_a") === col("sa") && col("source_b") === col("sb"), "left")
      .withColumn("shared_chunks", coalesce(col("shared"), lit(0L)))
      .withColumn("containment_ppm",
        expr("shared_chunks * 1000000 div least(na, nb)"))
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        col("shared_chunks"), col("containment_ppm"))
      .orderBy("source_a", "source_b")
  }

  /** C68 (r14): blocklist term-hit audit ([[graft.text.Blocklist]]) —
   * the safety/policy pass scored per document from a severity-
   * weighted term list: corpus tokenized ONCE, terms joined as a
   * broadcast dimension against the exploded tokens (the map-side
   * probe discards non-hits before any shuffle), never |terms| regex
   * passes. Clean documents are retained with zero counts. */
  private def qBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = Seq(("dup", 5L), ("slow", 2L), ("big", 1L))
      .toDF("term", "severity")
    graft.text.Blocklist.termHits(
        t(s, dir, "documents"), "doc_id", "text", terms, flagThreshold = 8L)
      .orderBy("doc_id")
  }

  /** C67 (r14): content-defined chunk dedup
   * ([[graft.functions.expressions.cdcChunks]]) — per-doc duplicated-
   * passage stats over Rabin-style rolling-hash chunk boundaries:
   * chunk edges follow CONTENT, not offsets, so a passage copied with
   * an insertion ahead of it still lands in identical chunks (the
   * shifted duplication C27's fixed segments and C42's stride
   * windows only approximate). One codegen'd O(n) pass per doc, a
   * map-side chunk-hash count, and a chunk-domain equi-join — never
   * doc-pairs. The oracle recomputes the SAME polynomial hash per
   * window position from scratch (recursive-CTE power table +
   * windowed character sums — the closed definition, not the rolling
   * update), then replays chunking, md5s, and sharing stats. */
  private def qChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val ch = docs.select(col("doc_id"),
        explode(graft.functions.expressions.cdcChunks(col("text"))).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("h"))
    val byHash = ch.groupBy("h").agg(countDistinct("doc_id").as("nd"))
    ch.join(byHash, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("shared_chunks"),
        min("h").as("min_md5"), max("h").as("max_md5"))
      .withColumn("shared_ppm", expr("shared_chunks * 1000000 div n_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("shared_chunks"),
        col("shared_ppm"), col("min_md5"), col("max_md5"))
      .orderBy("doc_id")
  }

  /** C37: incremental dedup equivalence gate — split the corpus at
   * the id midpoint (1-row bounds broadcast, date-spine pattern),
   * build text-free [[graft.dedup.Dedup.minhashState]] from the first
   * half, dedup the second half incrementally against it, and emit
   * every doc whose keep decision differs from what full-batch
   * minhashKeep over the whole corpus assigns. Must be empty: the
   * daily-increment path provably reproduces the monolithic rebuild.
   * Oracle: the empty relation. */
  private def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bounds = docs.agg(
      ((min("doc_id") + max("doc_id")) / 2).cast("long").as("mid"))
    val withMid = docs.crossJoin(broadcast(bounds))
    val old = withMid.filter(col("doc_id") <= col("mid")).select("doc_id", "text")
    val nw = withMid.filter(col("doc_id") > col("mid")).select("doc_id", "text")
    val inc = graft.dedup.Dedup
      .minhashKeepIncremental(
        graft.dedup.Dedup.minhashState(old, "doc_id", "text"), nw, "doc_id", "text")
      .select(col("doc_id"), col("keep").as("keep_inc"))
    val full = graft.dedup.Dedup.minhashKeep(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep").as("keep_full"))
    inc.join(full, Seq("doc_id"))
      .filter(col("keep_inc") =!= col("keep_full"))
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** C36: deterministic mixture resampling (operators/Sampling
   * .mixtureResample) — weight sources to a target mixture before
   * training: src1 upsampled 2.5× (replication + fractional draw),
   * src3 downsampled to 0.3, everything else kept. All draws are
   * md5-derived with integer-literal thresholds, so the oracle
   * replays the exact copy set. */
  private def qMixtureResample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixtureResample(
        t(s, dir, "documents").select("doc_id", "source"), "source", "doc_id",
        Map("src1" -> 2.5, "src3" -> 0.3))
      .select(col("doc_id"), col("source"), col("copy_idx").cast("long").as("copy_idx"))
      .orderBy("doc_id", "copy_idx")

  /** C35: strided context chunking — overlapping 64-word windows
   * every 48 words (consecutive chunks share 16 words), the
   * context-window chunker for training/RAG pipelines where overlap
   * preserves boundary context (contrast C27's DISJOINT segments for
   * dedup). One codegen'd kernel + posexplode — narrow after the
   * scan, no shuffle until the output sort. */
  private def qContextChunks(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      // single-file table: spread before the CPU-heavy per-row kernel
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        posexplode(graft.functions.expressions.wordChunksStrided(col("text"), 64, 48)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk"))
      .orderBy("doc_id", "chunk_idx")

  /** C34: deterministic corpus shuffle — reproducible global training
   * order as (bucket, position): bucket = md5-derived integer mod
   * nBuckets, position = rank within the bucket by the same hash.
   * Training consumes buckets in order, rows within a bucket by
   * position — a total order that is stable across engines, retries,
   * and partitionings (C24's determinism rationale applied to ORDER,
   * not membership). Scale shape: one narrow scan emits (bucket, key);
   * the rank is a window PARTITIONED by bucket — parallel across
   * buckets, never the single-partition global sort a bare
   * row_number() over a whole corpus would plan. */
  private def qCorpusShuffle(s: SparkSession, dir: String): DataFrame = {
    val key = expr(
      "conv(substring(md5(concat('shuffle42:', cast(doc_id as string))), 1, 8), 16, 10)")
      .cast("long")
    t(s, dir, "documents")
      .select(col("doc_id"), pmod(key, lit(16L)).as("bucket"), key.as("k"))
      .withColumn("pos",
        row_number().over(Window.partitionBy("bucket").orderBy("k", "doc_id")).cast("long"))
      .select("doc_id", "bucket", "pos")
      .orderBy("bucket", "pos")
  }

  /** C26: one-pass table profile (operators/Profile.scala) — per
   * column: rows, non-nulls, exact distinct, min/max as strings.
   * Doubles are excluded from min/max rendering on purpose: float
   * formatting is engine-specific, everything else here is not. */
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(t(s, dir, "customer"),
      Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
      .orderBy("col_name")

  /** C25: deterministic stratified sampling (operators/Sampling
   * .scala) — per-language keep fractions, md5-bucket thresholds.
   * Output proves composition (per-stratum kept count) and threshold
   * (max surviving bucket); zh at fraction 0 must vanish entirely. */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val fr = Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.0)
    graft.operators.Sampling
      .stratifiedSample(t(s, dir, "documents"), "lang", "doc_id", fr, default = 0.1)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        max(graft.operators.Sampling.sampleBucket(col("doc_id"))).as("max_bucket"))
      .orderBy("lang")
  }

  /** C39: deterministic weighted sampling (operators/Sampling
   * .weightedSample) — top-100 orders per priority class, selection
   * probability ∝ order value (sequential Poisson / Ohlsson bottom-k
   * priorities). Every arithmetic step is IEEE-exact dyadic or one
   * correctly-rounded division, so the oracle replays the identical
   * priority order in DuckDB and the sampled id set hash-matches. */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .weightedSample(
        t(s, dir, "orders").select(col("o_orderpriority"), col("o_orderkey"),
          cents(col("o_totalprice")).as("w_cents")),
        "o_orderpriority", "o_orderkey", col("w_cents"), k = 100)
      .orderBy("o_orderpriority", "o_orderkey")

  /** C14: transitive duplicate clusters — MinHash near-dup pairs →
   * connected components → per-cluster min-id survivor. FULL oracle
   * since r14: the banded LSH verifies exact Jaccard before any pair
   * enters the closure, so whenever recall holds the clustering
   * equals the exact-pair closure, and the oracle replays THAT with
   * the C14b recursive CTE (string-space shingles + transitive
   * reach). A hash mismatch means a missed pair changed a component
   * — the recall regression the row should catch. ComponentsSpec
   * covers chain semantics; the _sound gate hedges pair soundness. */
  private def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = graft.dedup.Dedup
      .minhashCandidates(docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.8)
    graft.operators.Components.dedupClusters(docs, "doc_id", pairs)
      .orderBy("doc_id")
  }

  /** C91 (r16): dedup IMPACT report — the release-note numbers a
   * dedup pass actually ships: per source, docs in/out, characters
   * removed (ppm), duplicate-cluster count and largest cluster, with
   * each cluster attributed to its SURVIVOR's source (deterministic —
   * clusters span sources, so "whose dedup was it" needs a rule).
   * Pure composition over the verified C14 keep-table: one join to
   * doc metadata + two map-side-combined rollups; the oracle replays
   * the C14b recursive-CTE closure and every aggregate. */
  private def qDedupImpact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = graft.dedup.Dedup
      .minhashCandidates(docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.8)
    val kt = graft.operators.Components.dedupClusters(docs, "doc_id", pairs)
    val meta = docs.select(col("doc_id"), col("source"),
      length(coalesce(col("text"), lit(""))).cast("long").as("nc"))
    val enriched = kt.join(meta, Seq("doc_id"))
    val perSource = enriched.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
      sum("nc").as("chars_total"),
      sum(when(!col("keep"), col("nc")).otherwise(0L)).as("chars_removed"),
      expr("sum(case when keep then 0 else nc end) * 1000000 div sum(nc)")
        .as("removed_ppm"))
    val clusterSizes = kt.groupBy("cluster_id").agg(count(lit(1)).as("csz"))
    val survivorStats = kt.filter(col("keep"))
      .join(meta.select("doc_id", "source"), Seq("doc_id"))
      .join(clusterSizes, Seq("cluster_id"))
      .groupBy("source").agg(
        sum(when(col("csz") >= 2L, 1L).otherwise(0L)).as("n_multi_clusters"),
        max("csz").as("max_cluster_sz"))
    perSource.join(survivorStats, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_keep"),
        col("chars_total"), col("chars_removed"), col("removed_ppm"),
        coalesce(col("n_multi_clusters"), lit(0L)).as("n_multi_clusters"),
        coalesce(col("max_cluster_sz"), lit(0L)).as("max_cluster_sz"))
      .orderBy("source")
  }

  /** C53 (r14): quality-aware cluster survivor selection
   * ([[graft.operators.Components.keepBest]]) — same verified
   * MinHash-candidate clusters as C14, but each cluster keeps its
   * LONGEST doc (token count via the codegen'd wordNgrams kernel;
   * ties → smallest id) instead of the smallest id: the rule corpus
   * dedup actually wants (keep the best version of a mirrored page,
   * not whichever crawled first). The argmax is one
   * map-side-combined (score, −id)-struct max — no window, no
   * per-cluster sort. Oracle replays the C14b recursive-CTE closure
   * plus a row_number argmax; valid on the same LSH-recall argument
   * as q_dedup_clusters (byte-identical clusters proven r14). */
  private def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = graft.dedup.Dedup
      .minhashCandidates(docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.8)
    val scored = docs.select(col("doc_id"),
      size(graft.functions.expressions.wordNgrams(
        coalesce(col("text"), lit("")), 1)).cast("long").as("n_tokens"))
    graft.operators.Components.keepBest(scored, "doc_id", "n_tokens", pairs)
      .orderBy("doc_id")
  }

  /** C14c: clusters-primary soundness — every CC input pair on the
   * MinHash-candidate path (the pairs q_dedup_clusters clusters over)
   * must be a genuine ≥0.8-Jaccard pair when its texts are re-joined
   * independently and re-verified. A non-empty result means candidate
   * generation associated the wrong ids with a verified similarity
   * (band-join or dedup plumbing bug). Oracle: the empty relation. */
  private def qDedupClustersSound(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = graft.dedup.Dedup
      .minhashCandidates(docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.8)
      .select("id_a", "id_b")
    // independent re-verify: join each emitted pair back to the corpus
    // by id and recompute the similarity from raw text (same NULL→''
    // normalization as the pipeline)
    val texts = docs.select(col("doc_id"),
      coalesce(col("text"), lit("")).as("t"))
    pairs
      .join(texts.select(col("doc_id").as("id_a"), col("t").as("t_a")), Seq("id_a"))
      .join(texts.select(col("doc_id").as("id_b"), col("t").as("t_b")), Seq("id_b"))
      .filter(graft.dedup.Dedup.ngramJaccard(col("t_a"), col("t_b")) < 0.8)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }

  /** C38: snapshot diff (operators/Profile.snapshotDiff) — classify
   * every key across two deterministic "versions" of the orders table
   * (old drops keys ≡0 mod 7; new drops ≡0 mod 5 and bumps totals
   * ≡0 mod 3 by one cent) as added/removed/changed/unchanged. The
   * oracle replays the same construction with a value-compare FULL
   * OUTER JOIN, so the hash check proves the row-hash diff classifies
   * identically to direct comparison. */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("total_cents"),
        col("o_orderstatus"))
    val old = base.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
    val nw = base.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
      .withColumn("total_cents",
        when(pmod(col("o_orderkey"), lit(3)) === 0, col("total_cents") + 1L)
          .otherwise(col("total_cents")))
    graft.operators.Profile.snapshotDiff(old, nw, Seq("o_orderkey"),
        Seq("total_cents", "o_orderstatus"))
      .groupBy("status").agg(count(lit(1)).as("n_keys"))
      .orderBy("status")
  }

  /** C49 (r13): term co-occurrence association mining — which word
   * pairs appear in the SAME document far more often than chance
   * (market-basket lift over the corpus): C13 counts ADJACENT
   * bigrams, this measures document-level association; lift is exact
   * integer ppm (1e6·N·c_xy div (c_x·c_y)) — no logs, no floats —
   * with a min-support floor so df-1 flukes can't top the list. The
   * per-doc pair explode is C(tokens,2) bounded by doc length (the
   * standard market-basket shape); counts map-side-combine and the
   * top-20 is TakeOrdered, never a global sort. */
  private def qCooccurrence(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .repartition(t(s, dir, "documents").sparkSession
        .sparkContext.defaultParallelism)
      // cap the per-doc distinct-token list: the pair explode is
      // C(len, 2), so one pathological 1M-token doc would emit 5e11
      // pairs — the 512 lexicographically-SMALLEST distinct tokens
      // bound any doc's contribution at ~131k pairs (no-op on this
      // corpus). Sorted-then-sliced on BOTH sides (r13 ADVICE): a
      // first-occurrence cap would pin the truncation to Spark's
      // array_distinct order, which DuckDB's list_distinct does not
      // guarantee — order-independent truncation keeps the oracle
      // valid the day a doc exceeds the cap
      .select(col("doc_id"),
        slice(array_sort(array_distinct(
          filter(split(col("text"), "[ \t\n\r]+"), w => w =!= ""))), 1, 512)
          .as("ws"))
    val nDocs = toks.agg(count(lit(1)).as("n_docs"))
    val termCnt = toks.select(explode(col("ws")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val pairCnt = toks
      .select(explode(expr(
        """flatten(transform(ws, (x, i) ->
             transform(slice(ws, i + 2, size(ws)), y ->
               if(x < y, struct(x as t1, y as t2), struct(y as t1, x as t2)))))"""))
        .as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 20)
    pairCnt
      .join(termCnt.select(col("tok").as("t1"), col("c").as("c_x")), "t1")
      .join(termCnt.select(col("tok").as("t2"), col("c").as("c_y")), "t2")
      .crossJoin(broadcast(nDocs))
      .select(col("t1"), col("t2"), col("c_xy"), col("c_x"), col("c_y"),
        expr("c_xy * n_docs * 1000000 div (c_x * c_y)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("t1"), col("t2"))
      .limit(20)
  }

  /** C48 (r13): exact set-similarity self-join via prefix filtering
   * ([[graft.operators.SimJoin.jaccardSelfJoin]]) — every pair of
   * documents whose 3-word-shingle Jaccard is >= 0.8, with NO
   * probabilistic miss (the deterministic complement to C2's MinHash
   * LSH). The oracle brute-forces the same definition in DuckDB
   * (co-shingle pairs → intersection counts → integer threshold), so
   * equality proves both the prefix filter's completeness (no pair
   * lost to the candidate pruning) and the exact integer verify. */
  private def qSimjoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.SimJoin
      .jaccardSelfJoin(t(s, dir, "documents"), "doc_id", "text", tMilli = 800)
      .orderBy("id1", "id2")

  /** C12: multimodal plumbing — binary payload + typed metadata,
   * per-partition batched feature extraction (stub codec; rows-only). */
  /** C12b: frame sampling plumbing (multimodal/Media.sampleFrames) —
   * payloads split into 64-byte frames, every 3rd kept. The framing
   * geometry (kept count, kept bytes incl. the partial tail frame,
   * max kept index) is EXACTLY computable from the payload length, so
   * unlike the stubbed feature values this path gets a full SQL
   * oracle: DuckDB recomputes the arithmetic from octet_length. */
  private def qMediaFrames(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Media.fromDocuments(t(s, dir, "documents"))
    graft.multimodal.Media.sampleFrames(media, frameBytes = 64, everyN = 3)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_kept"),
        sum(length(col("frame"))).as("kept_bytes"),
        max(col("frame_idx")).as("max_idx"))
      .orderBy("media_id")
  }

  /** C12: stub feature extraction over the binary media column
   * ([[graft.multimodal.Media.extractFeatures]]) — ids, kinds and
   * byte sizes exact, the stub feature's range bound asserted. */
  private def qMediaFeatures(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Media
      .extractFeatures(graft.multimodal.Media.fromDocuments(t(s, dir, "documents")))
      .toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        // the stub feature itself is float32 sequential accumulation
        // (not SQL-mirrorable bit-exactly); its provable range bound
        // is, so the oracle hash-checks ids/kinds/sizes + the bound
        (element_at(col("features"), 1) >= 0.0 &&
          element_at(col("features"), 1) <= (col("n_bytes") / 8.0 + 1.0)).as("f0_in_range"))
      .orderBy("media_id")

  /** C12c (r16): content-addressable EXACT media dedup
   * ([[graft.multimodal.Media.exactDedup]]) inside the no-codec wall
   * (VERDICT r15 #5) — byte-identical payloads collapse on their
   * digest, no decode. The corpus PLANTS re-uploads (every 13th
   * doc's payload reappears under media_id + 1,000,000), and the
   * collapse must map each copy onto its original (rep = lowest id)
   * while everything else stays its own representative. FULL oracle:
   * DuckDB replays the digest relation on the same bytes (md5 of the
   * UTF-8 text ≡ md5 of the binary payload; ASCII corpus, the C4b
   * pinned precondition). */
  private def qMediaDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def payload = coalesce(col("text").cast("binary"),
      lit(Array.emptyByteArray))
    val base = docs.select(col("doc_id").as("media_id"), payload.as("p"))
    val copies = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 1000000L).as("media_id"), payload.as("p"))
    graft.multimodal.Media.exactDedup(base.unionAll(copies), "media_id", "p")
      .orderBy("media_id")
  }

  /** C12c (r16): chunk-signature NEAR-dup screen
   * ([[graft.multimodal.Media.nearDupPairs]]) — locally-edited
   * re-uploads that exact dedup misses, still without decoding a
   * byte: payloads resemble when their 32-byte chunk digest sets
   * overlap ≥ 0.7 Jaccard. The corpus PLANTS edited variants (every
   * 7th doc ≥ 224 bytes reappears under media_id + 2,000,000 with
   * its last 10 bytes rewritten): at ≥ 7 full chunks, one edited
   * chunk costs at most (n−1)/(n+1) ≥ 0.75 resemblance, so every
   * planted pair must surface; pair generation is bucketed on the
   * chunk digest with the stop-chunk cap (> 100 media) replayed by
   * the oracle. */
  private def qMediaNeardup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def payload = coalesce(col("text").cast("binary"),
      lit(Array.emptyByteArray))
    val base = docs.select(col("doc_id").as("media_id"), payload.as("p"))
    val variants = docs
      .filter(col("doc_id") % 7 === 0 && length(col("text")) >= 224)
      .select((col("doc_id") + 2000000L).as("media_id"),
        col("text").cast("binary").as("p0"))
      .select(col("media_id"),
        concat(expr("substring(p0, 1, length(p0) - 10)"),
          lit("XXXXXXXXXX").cast("binary")).as("p"))
    graft.multimodal.Media
      .nearDupPairs(base.unionAll(variants), "media_id", "p",
        chunkBytes = 32, maxChunkFreq = 100, thresholdPpm = 700000L)
      .orderBy("media_a", "media_b")
  }

  /** C12c (r16): media dedup KEEP-TABLE — the relation a pipeline
   * actually consumes: exact-digest pairs and chunk-signature
   * near-dup pairs unioned into one edge set, closed transitively
   * ([[graft.operators.Components.dedupClusters]] — the C14
   * machinery on media edges), one survivor per cluster. A planted
   * original, its byte-identical re-upload, and its tail-edited
   * variant must land in ONE cluster even though the copy and the
   * variant were never directly compared (exact hash differs, but
   * both pair with the original). Oracle: both pair pipelines + the
   * recursive-CTE closure replayed in DuckDB. */
  private def qMediaClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def payload = coalesce(col("text").cast("binary"),
      lit(Array.emptyByteArray))
    val base = docs.select(col("doc_id").as("media_id"), payload.as("p"))
    val copies = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 1000000L).as("media_id"), payload.as("p"))
    val variants = docs
      .filter(col("doc_id") % 7 === 0 && length(col("text")) >= 224)
      .select((col("doc_id") + 2000000L).as("media_id"),
        col("text").cast("binary").as("p0"))
      .select(col("media_id"),
        concat(expr("substring(p0, 1, length(p0) - 10)"),
          lit("XXXXXXXXXX").cast("binary")).as("p"))
    val corpus = base.unionAll(copies).unionAll(variants)
    val exactPairs = graft.multimodal.Media.exactDedup(corpus, "media_id", "p")
      .filter(col("media_id") =!= col("rep_id"))
      .select(col("rep_id").as("id_a"), col("media_id").as("id_b"))
    val nearPairs = graft.multimodal.Media
      .nearDupPairs(corpus, "media_id", "p",
        chunkBytes = 32, maxChunkFreq = 100, thresholdPpm = 700000L)
      .select(col("media_a").as("id_a"), col("media_b").as("id_b"))
    graft.operators.Components
      .dedupClusters(corpus, "media_id", exactPairs.unionAll(nearPairs))
      .select(col("doc_id").as("media_id"), col("cluster_id"), col("keep"))
      .orderBy("media_id")
  }

  /** C12d (r17): container-header metadata
   * ([[graft.multimodal.Media.describeHeaders]]) — format, dimensions,
   * sample rate, and channels read straight from the payload's header
   * bytes, no codec (VERDICT r16 #8: RIFF/PNG/JPEG headers are plain
   * bytes, so the multimodal column becomes genuinely descriptive
   * inside the no-codec wall). The corpus builds REAL header bytes in
   * pure SQL (unhex of Catalyst-built hex — constructor and parser
   * share no code): PNG IHDR with per-doc dims, WAV with a planted
   * JUNK chunk before fmt every 8th doc (the chunk SCAN must skip it),
   * JPEG with a planted APP1 segment before SOF every 8th doc (the
   * segment scan likewise), and a poisoned-leading-byte text payload
   * as the 'unknown' class — each with a variable text tail proving
   * the parse reads structure, not offsets-from-end. The oracle
   * recomputes every field by the independent doc-id arithmetic, so a
   * wrong endianness, a fixed-offset shortcut, or a crash on garbage
   * all hash-mismatch. One pass, no shuffle. */
  private def qMediaHeaders(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Media
      .describeHeaders(mediaHeaderCorpus(s, dir), "media_id", "p")
      .orderBy("media_id")

  /** C93 (r17, completed r18): URL canonicalization + canonical-URL
   * dedup ([[graft.text.Urls.canonicalDedup]]) — the crawl pipeline's
   * FIRST dedup pass, upstream of every content-based one: the corpus
   * builds EIGHT surface variants of each logical page (scheme case +
   * http, WWW + :80 + trailing slash + utm param, :443 + fragment +
   * scrambled param order, gclid, userinfo, percent-encoded
   * unreserved path byte, `/../` + `/./` dot segments, duplicate
   * slashes) in pure Catalyst SQL, and the codegen'd canonicalizer
   * must collapse each octet onto ONE canonical string; a second
   * family plants lowercase-hex + encoded-tilde query values
   * (`%2fv%7E` vs `%2Fv~`) whose pairs collapse through the
   * percent-normalization rules alone; a third (r19) plants the same
   * http-vs-https page pair under BOTH fold settings — merged under
   * the default, distinct under foldHttp = false (the parameterized
   * scheme fold, VERDICT r18 #5). The oracle recomputes every
   * canonical URL CHARACTER-FOR-CHARACTER by independent arithmetic
   * (never parsing anything), plus the group rep/count/keep relation
   * — so a wrong scheme fold, port strip, userinfo split, percent
   * decode/uppercase, dot-segment pop, param sort, or fragment rule
   * all hash-mismatch, as does any grouping error. One projection +
   * one canonical-key window; shuffles short strings only. */
  private def qUrlDedup(s: SparkSession, dir: String): DataFrame = {
    val fam1 = t(s, dir, "documents")
      .select(col("doc_id").as("id"), expr("doc_id div 8").as("k"))
      .withColumn("url", expr("""
        CASE CAST(id % 8 AS INT)
          WHEN 0 THEN concat('https://example', k, '.com/a/b', k, '?b=2&a=1')
          WHEN 1 THEN concat('HTTP://WWW.EXAMPLE', k, '.COM:80/a/b', k,
            '/?a=1&b=2&utm_source=x')
          WHEN 2 THEN concat('https://example', k, '.com:443/a/b', k,
            '?utm_campaign=z&b=2&a=1#frag')
          WHEN 3 THEN concat('https://example', k, '.com/a/b', k, '?a=1&gclid=g&b=2')
          WHEN 4 THEN concat('https://u:p@example', k, '.com/a/b', k, '?a=1&b=2')
          WHEN 5 THEN concat('https://example', k, '.com/%61/b', k, '?a=1&b=2')
          WHEN 6 THEN concat('https://example', k, '.com/x/../a/./b', k, '?a=1&b=2')
          ELSE concat('https://example', k, '.com//a//b', k, '?a=1&b=2')
        END"""))
    val fam2 = t(s, dir, "documents")
      .select((col("doc_id") + lit(1000000L)).as("id"),
        expr("doc_id div 2").as("k"))
      .withColumn("url", expr("""
        CASE CAST(id % 2 AS INT)
          WHEN 0 THEN concat('https://example', k, '.org/p?q=%2fv%7E')
          ELSE concat('https://example', k, '.org/p?q=%2Fv~')
        END"""))
    // Third family (r19): the same http-vs-https page pair planted
    // TWICE — once under the default fold (the pair must merge), once
    // with foldHttp = false (the pair must stay distinct: 80 and 443
    // can serve different content, the knob's whole point).
    def foldFam(offset: Long) = t(s, dir, "documents")
      .select((col("doc_id") + lit(offset)).as("id"),
        expr("doc_id div 2").as("k"))
      .withColumn("url", expr("""
        CASE CAST(id % 2 AS INT)
          WHEN 0 THEN concat('http://fold', k, '.com/p')
          ELSE concat('https://fold', k, '.com/p')
        END"""))
    graft.text.Urls
      .canonicalDedup(fam1.unionByName(fam2).unionByName(foldFam(2000000L)),
        "id", "url")
      .unionByName(graft.text.Urls.canonicalDedup(foldFam(3000000L),
        "id", "url", foldHttp = false))
      .orderBy("id")
  }

  /** C27: segment-level dedup (text/SegmentDedup.scala) — the corpus
   * "line dedup" pass at fixed 8-word-chunk granularity: segments
   * occurring in ≥2 distinct documents are cut, documents survive.
   * The Spark path collapses segments by 64-bit hash (the scale
   * path); the oracle groups the segment STRINGS in DuckDB, so every
   * run re-proves hash-space ≡ string-space (C4b pattern). */
  private def qSegmentDedup(s: SparkSession, dir: String): DataFrame =
    graft.text.SegmentDedup
      .cleanChunks(t(s, dir, "documents"), "doc_id", "text", chunkWords = 8, minDocs = 2)
      .orderBy("doc_id")

  /** C40: per-group boilerplate removal (text/Boilerplate.scala) —
   * 2-word chunks occurring in ≥20% (and ≥5) of a SOURCE's documents
   * are cut from that source's documents; the group-relative
   * frequency test is what separates site boilerplate from ordinary
   * repetition (C27's global ≥N-docs rule). Thresholds chosen to
   * BITE on the synthetic corpus (the hottest per-source chunk sits
   * at 24% df — a higher bar would verify an empty cut set).
   * Hash-space ≡ string-space re-proved per run: the oracle replays
   * the whole pipeline over chunk STRINGS in DuckDB (C4b/C27
   * pattern). */
  private def qBoilerplate(s: SparkSession, dir: String): DataFrame =
    graft.text.Boilerplate
      .stripFrequent(t(s, dir, "documents"), "doc_id", "text", "source",
        chunkWords = 2, minFrac = 0.2, minDocs = 5)
      .orderBy("doc_id")

  /** C28: inverted index (text/InvertedIndex.scala) — term → df +
   * sorted posting list, one scan + one term-keyed aggregate. The
   * query projects scalar posting stats (sum/min/max/len) instead of
   * the raw arrays so the driver hash check stays list-free and
   * engine-portable; the arrays themselves are asserted in spec. */
  private def qInvertedIndex(s: SparkSession, dir: String): DataFrame =
    graft.text.InvertedIndex.build(t(s, dir, "documents"), "doc_id", "text")
      .select(col("term"), col("df"),
        aggregate(col("postings"), lit(0L), (acc, x) => acc + x).as("doc_sum"),
        element_at(col("postings"), 1).as("min_doc"),
        element_at(col("postings"), -1).as("max_doc"))
      .orderBy("term")

  /** C29: semantic cluster assignment (the SemDeDup shape: k-means
   * cells over embeddings, near-dup search only within a cell) —
   * deterministic centroids (the first 8 corpus vectors, broadcast),
   * codegen'd cosine argmax per vector. Oracle replays the argmax
   * with DuckDB list_cosine_similarity; min top1−top2 margin on this
   * corpus is 4e-4, orders of magnitude above cross-engine float
   * noise, so the assignment hash-checks exactly. */
  private def qClusterAssign(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("sim").desc, col("cid"))
    emb.crossJoin(broadcast(cents))
      .withColumn("sim",
        graft.functions.expressions.cosineSim(col("embedding"), col("cemb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cluster"))
      .orderBy("vec_id")
  }

  /** C30: composed quality-filter chain — the full pre-tokenization
   * document gate (language, length band, stopword floor, repetition
   * ceiling) in one scan, emitting a per-rule bitmask so kill rates
   * stay auditable per rule. Every rule is integer/ratio arithmetic
   * shared with q_text_quality / q_repetition, so the whole chain is
   * SQL-mirrorable. */
  private def qFilterChain(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val words = graft.functions.expressions.wordNgrams(coalesce(col("text"), lit("")), 1)
    val grams2 = graft.functions.expressions.wordNgrams(coalesce(col("text"), lit("")), 2)
    docs
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("n_g2", size(grams2).cast("long"))
      .withColumn("n_g2_uniq", size(array_distinct(grams2)).cast("long"))
      .select(col("doc_id"),
        (col("lang") === "en").as("pass_lang"),
        (col("n_words") >= 20L && col("n_words") <= 2000L).as("pass_len"),
        // stopword floor: ≥ 10% stopwords (same tokenizer + word set
        // as q_text_quality, whose doubles hash-match cross-engine)
        (TextFunctions.stopwordRatio(col("text")) >= 0.1).as("pass_stop"),
        // repetition ceiling: ≥ 40% of 2-grams unique
        (col("n_g2") === 0L || col("n_g2_uniq") * 5L >= col("n_g2") * 2L)
          .as("pass_rep"))
      .withColumn("keep",
        col("pass_lang") && col("pass_len") && col("pass_stop") && col("pass_rep"))
      .orderBy("doc_id")
  }

  /** C41: FLAGSHIP COMPOSITION (round 10; stage 0 added r18): end-to-end
   * corpus assembly — canonical-URL dedup (C93) → quality filter
   * (C30) → exact dedup (C1) → near-dup dedup → decontaminate (C17)
   * → stratified sample (C25) → pack+materialize (C19/C19b),
   * composed as ONE lazy plan by
   * [[graft.pipelines.CorpusAssembly.assemble]]. Every operator is
   * individually oracle-verified elsewhere on the board; THIS row
   * verifies their composition — the stage-to-stage schema contracts
   * and ordering assumptions no per-operator oracle can see. The
   * DuckDB oracle replays all seven stages in string space and
   * hash-compares the final packed chunks' md5 fingerprints, so a
   * divergence at ANY stage corrupts the bytes downstream and fails
   * the row.
   *
   * Stage 0 is exercised for real: every document PAIR (doc_id div 2)
   * is planted with two surface-variant URLs of one logical page —
   * the even doc plain-canonical, the odd doc scheme-cased + WWW +
   * :80 + trailing slash + scrambled params + utm — so the
   * canonicalizer must collapse each pair (keep = min id) BEFORE any
   * content stage runs; the benchmark slice for decontamination
   * still cuts from the RAW input (the assemble contract). The
   * oracle replays the canon keep set as `doc_id = MIN(doc_id) per
   * doc_id // 2 group`, INDEPENDENT of any URL parsing.
   *
   * The near-dup stage pins [[graft.pipelines.CorpusAssembly
   * .nearDedupExact]] — the COMPLETE shingle-blocked variant (equi
   * join on shared shingles; any ≥0.8-Jaccard pair shares one), which
   * is what makes the whole composition exactly SQL-replayable. The
   * banded MinHash plug (C2) slots in for boilerplate-heavy corpora;
   * its keep contract is identical and its recall is hedged by the
   * standing q_dedup_minhash_sound gate. */
  private def qCorpusPipeline(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.CorpusAssembly.assemble(
        t(s, dir, "documents").withColumn("url", expr("""
          CASE CAST(doc_id % 2 AS INT)
            WHEN 0 THEN concat('https://crawl', doc_id div 2, '.com/p',
              doc_id div 2, '?a=1&b=2')
            ELSE concat('HTTP://WWW.CRAWL', doc_id div 2, '.COM:80/p',
              doc_id div 2, '/?b=2&a=1&utm_source=x')
          END""")),
        cfg = graft.pipelines.CorpusAssembly.Config(urlCol = Some("url")),
        nearDedup = graft.pipelines.CorpusAssembly.nearDedupExact)
      .orderBy("source", "chunk_id")

  /** C31: order-independent corpus checksum (operators/Profile
   * .tableChecksum) — validate a 100 TB copy/migration with one
   * aggregate per side and no row transfer; the oracle recomputing
   * the identical checksum in DuckDB IS the cross-engine use case. */
  private def qTableChecksum(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile
      .tableChecksum(t(s, dir, "documents"), Seq("doc_id", "lang", "source", "text"))

  /** C45: cross-source corpus overlap via KMV sketches
   * (operators/Overlap.scala) — each source's word-3-gram shingle set
   * reduces to its k smallest distinct md5 hashes in ONE bounded
   * algebraic aggregate (never more than k strings of state per
   * partial, regardless of corpus size), then the #sources² sketch
   * pairs yield the KMV Jaccard estimate |K(A∪B)∩K(A)∩K(B)|/|K(A∪B)|
   * as an integer ppm. The graded companion of C31's equality
   * checksum: "how much of source A is mirrored in B" without ever
   * co-shuffling the corpora. Oracle replays the identical hash,
   * k-min ranking, and integer division in DuckDB. */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Overlap
      .sourceOverlap(t(s, dir, "documents"), "source", "text", k = 256)
      .orderBy("src_a", "src_b")

  /** C32: record linkage / entity resolution over structured records
   * (operators/Linkage.scala) — block on (nation, segment), verify
   * only in-block pairs with codegen'd levenshtein; the multi-field
   * cousin of the text-dedup family. Scale caveat measured by the
   * r18 sf10 probe: with FIXED-cardinality blocking keys (125 blocks
   * here), block sizes grow ∝ n and in-block pairs ∝ n² — 86× runtime
   * for 10× data. This row stays as the blocked BASELINE (the
   * operator's docs say a discriminating key is the caller's lever);
   * the scale path for dist-1 linkage is [[qRecordLinkageDel]]. */
  private def qRecordLinkage(s: SparkSession, dir: String): DataFrame =
    graft.operators.Linkage
      .linkByEditDistance(t(s, dir, "customer"), "c_custkey", "c_name",
        Seq("c_nationkey", "c_mktsegment"), maxDist = 1)
      .orderBy("id_a", "id_b")

  /** C32b (r18): edit-distance-1 linkage via DELETION NEIGHBORHOODS
   * ([[graft.operators.Linkage.linkByDeletion1]] — FastSS): each name
   * emits itself plus every single-deletion variant as blocking keys
   * through one codegen'd kernel; intersecting neighborhoods are a
   * COMPLETE dist≤1 candidate generator, so candidate volume tracks
   * true near-duplicate density instead of block-size² — the fix for
   * the sf10 superlinearity the blocked C32 baseline measures. The
   * oracle regenerates the neighborhoods in pure SQL (substr
   * arithmetic, no shared code) and replays the whole key-join +
   * verify, so a wrong variant set, missed dedup, or verify bug all
   * hash-mismatch. Global linkage (no block confinement). */
  private def qRecordLinkageDel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Linkage
      .linkByDeletion1(t(s, dir, "customer"), "c_custkey", "c_name")
      .orderBy("id_a", "id_b")

  /** The composite ENTITY IDENTITY string the C32c/C14-composition
   * rows compare on: name + segment + nation. Deliberately
   * multi-field (the standard entity-resolution shape — a bare
   * sequential serial-number name is the densest possible dist-k
   * domain: at maxDist = 2 the r19 probe measured 204k name pairs
   * among 1500 bare names vs 3.3k with the composite, 62× — the
   * discriminating-field lever the operator docs prescribe). */
  private def linkIdent(df: DataFrame): DataFrame =
    df.withColumn("ident", concat(col("c_name"), lit("|"),
      col("c_mktsegment"), col("c_nationkey").cast("string")))

  /** C32c (r19): edit-distance-≤2 linkage via k = 2 deletion
   * neighborhoods ([[graft.operators.Linkage.linkByDeletionK]]) —
   * FastSS generalized past the dist-1 IFF regime: the 0/1/2-deletion
   * key sets are a COMPLETE dist≤2 candidate generator but no longer
   * tight, so this row is the one place the board exercises a
   * verify that actually KILLS candidates (shared 2-deletion keys at
   * true distance 3..4). The oracle regenerates both deletion levels
   * in pure substr arithmetic and replays key-join + thresholded
   * verify + record expansion, so a wrong variant set at EITHER
   * level, a verify bug, or a missed dedup all hash-mismatch. */
  private def qRecordLinkageDel2(s: SparkSession, dir: String): DataFrame =
    graft.operators.Linkage
      .linkByDeletionK(linkIdent(t(s, dir, "customer")), "c_custkey",
        "ident", maxDist = 2)
      .orderBy("id_a", "id_b")

  /** C32d (r19, the composition SCALE_SF10.md named): linkage
   * CLUSTERS — [[graft.operators.Linkage.linkClusters]] feeds the
   * C32b deletion-neighborhood pair relation through the C14
   * connected-components machinery and emits ONE (id, cluster) row
   * per record, singletons labeled by their own id. This is the
   * scale-correct OUTPUT for linkage under mass duplication: pairs
   * are quadratic in duplicate-group size (the r18 sf10 probe's 2.7B
   * enumerated pairs), cluster labels are linear in records always.
   * The oracle replays neighborhoods + union-find: deletion keys by
   * substr arithmetic, the dist≤1 verify, then a recursive-CTE
   * transitive closure labeled by component-minimum id. */
  private def qLinkageClusters(s: SparkSession, dir: String): DataFrame =
    graft.operators.Linkage
      .linkClusters(linkIdent(t(s, dir, "customer")), "c_custkey", "ident")
      .orderBy("id")

  /** C50 (r13): RFM segmentation — the classic customer scoring
   * (recency / frequency / monetary, each binned into quintiles,
   * segment = RFM digits). The textbook ntile(5) is a GLOBAL
   * single-partition window over every customer — the anti-pattern
   * at 100 TB — so scores come from four broadcast percentile_disc
   * cut points per metric instead: one map-side-combined customer
   * rollup, one 1-row cuts aggregate, one broadcast compare pass;
   * ties share a score deterministically (rank-based ntile splits
   * them by arbitrary row order). percentile_disc ≡ DuckDB
   * quantile_disc (B52 precedent), recency negated so all three
   * metrics score "bigger is better" through one formula. */
  private def qRfm(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").groupBy("o_custkey").agg(
      datediff(to_date(lit("2001-09-01")), max(to_date(col("o_orderdate"))))
        .cast("long").as("recency_days"),
      count(lit(1)).as("frequency"),
      sum(cents(col("o_totalprice"))).as("monetary_cents"))
      .withColumn("rec_neg", -col("recency_days"))
    def cutsOf(c: String, p: String) = Seq(0.2, 0.4, 0.6, 0.8).zipWithIndex.map {
      case (q, i) =>
        expr(s"percentile_disc($q) within group (order by $c)")
          .cast("long").as(s"$p${i + 1}")
    }
    val allCuts = cutsOf("rec_neg", "r") ++ cutsOf("frequency", "f") ++
      cutsOf("monetary_cents", "m")
    val cuts = base.agg(allCuts.head, allCuts.tail: _*)
    def score(c: String, p: String) =
      (1 to 4).map(i => (col(c) > col(s"$p$i")).cast("long"))
        .foldLeft(lit(1L))(_ + _)
    base.crossJoin(broadcast(cuts))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"),
        score("rec_neg", "r").as("r_score"),
        score("frequency", "f").as("f_score"),
        score("monetary_cents", "m").as("m_score"))
      .withColumn("segment",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
      .orderBy("o_custkey")
  }

  /** C51 (r13): per-class embedding centroid audit — the
   * embedding-space statistic a dataset curator watches (class
   * centroids drift when an encoder or labeler changes; the
   * per-class mean is also the seed for C44's SemDeDup cells).
   * Exact integer space end-to-end: elements scale to micros, sums
   * are longs, and the centroid is an integer division — Spark `div`
   * and DuckDB `//` BOTH truncate toward zero (verified on negative
   * sums; it is SQL-standard floor `//` engines like Python that
   * would need the pmod floor-div adaptation here). One posexplode →
   * map-side-combined (label, dim) aggregate; shuffle carries
   * labels × dims rows, never vectors. */
  private def qEmbeddingStats(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        round(col("x") * 1000000d, 0).cast("long").as("micro"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"), sum("micro").as("s"))
      .select(col("label"), col("dim"), col("n_vecs"),
        expr("s div n_vecs").as("centroid_micro"))
      .orderBy("label", "dim")
  }

  /** C81 (r15): distributed PCA, the exact-integer moment pass
   * ([[graft.functions.GramAggregate]]) — ONE map-side-combined
   * aggregate whose state is dim(dim+1)/2 + dim + 1 longs regardless
   * of corpus size (the shuffle carries one 33 KiB buffer per
   * partition, never vectors). Coordinates quantize to micro-units
   * (floor(x·10⁶ + 0.5), the C58 exact-integer discipline), so every
   * upper-tri second moment, first moment, and the count are EXACT
   * integers the oracle recomputes from the same parquet — the whole
   * distributed half of PCA hash-checked. Output rows: (i, j, v) for
   * i ≤ j = Σ qᵢqⱼ; (i, -1) = Σ qᵢ; (-1, -1) = n. */
  private def qPcaGram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = 64
    val (g, sv, n) = graft.similarity.Pca.gramStats(
      t(s, dir, "embeddings"), "embedding", dim)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var idx = 0
    for (i <- 0 until dim; j <- i until dim) {
      rows += ((i.toLong, j.toLong, g(idx))); idx += 1
    }
    for (i <- 0 until dim) rows += ((i.toLong, -1L, sv(i)))
    rows += ((-1L, -1L, n))
    rows.toSeq.toDF("i", "j", "v").orderBy("i", "j")
  }

  /** C81b (r15): PCA projection + whitening invariants — the bounded
   * driver eigensolve (deterministic cyclic Jacobi over the exact
   * covariance) and the codegen'd y = Vᵀ(x − μ) projection pass
   * ([[graft.functions.expressions.affineProject]]; matrix embeds in
   * the plan, no shuffle). Eigen-VALUES are driver doubles a second
   * engine cannot replay, so the row carries the PROVABLE invariants
   * instead (the approximate-operator oracle pattern): per component,
   * orthonormality of the eigenbasis (|vc·vd − δ| < 1e-8),
   * descending-variance order, and — the end-to-end check that runs
   * DISTRIBUTED — the whitened projection's population variance lands
   * on 1 within 1% (covariance came from quantized micros, the
   * projection runs on raw doubles; the gap is bounded by the
   * quantization step). */
  private def qPcaProject(s: SparkSession, dir: String): DataFrame = {
    val dim = 64; val k = 8
    val emb = t(s, dir, "embeddings")
    val m = graft.similarity.Pca.fit(emb, "embedding", dim, k)
    require(m.k == k, s"pca: expected $k components above floor, got ${m.k}")
    def dot(c: Int, d: Int): Double =
      (0 until dim).map(i => m.components(c * dim + i) * m.components(d * dim + i)).sum
    val orthoOk = Array.tabulate(k)(c => (0 until k).forall { d =>
      math.abs(dot(c, d) - (if (c == d) 1.0 else 0.0)) < 1e-8
    })
    val orderOk = Array.tabulate(k)(c =>
      c == 0 || m.eigenvalues(c) <= m.eigenvalues(c - 1) + 1e-12)
    val white = m.copy(components = Array.tabulate(k * dim) { idx =>
      m.components(idx) / math.sqrt(m.eigenvalues(idx / dim))
    })
    val stats = emb
      .select(posexplode(graft.similarity.Pca.projectColumn(white, col("embedding")))
        .as(Seq("comp", "y")))
      .groupBy("comp")
      .agg(count(lit(1)).as("n"), sum("y").as("sy"), sum(col("y") * col("y")).as("syy"))
      .select(col("comp").cast("long").as("component"), col("n").as("n_used"),
        (abs(col("syy") / col("n") - (col("sy") / col("n")) * (col("sy") / col("n"))
          - 1.0) < 0.01).as("var_ok"))
    import emb.sparkSession.implicits._
    val driverFlags = (0 until k)
      .map(c => (c.toLong, orthoOk(c), orderOk(c)))
      .toDF("component", "ortho_ok", "order_ok")
    stats.join(broadcast(driverFlags), Seq("component"))
      .select("component", "n_used", "ortho_ok", "order_ok", "var_ok")
      .orderBy("component")
  }

  /** C82 (r15): int8 quantization calibration — the per-dimension
   * min-max affine map a serving/training stack uses to ship
   * embeddings at 1 byte/coordinate. Exact end-to-end: coordinates
   * quantize to micro-units, calibration is a (pos → min, max)
   * aggregate (dim-bounded, broadcast back), and the code is
   * round-half-up((q−min)·255/range) computed IN INTEGERS
   * (⌊((q−min)·510 + range) / 2·range⌋ — Spark `div` and DuckDB `//`
   * both truncate), so the oracle replays every code bit-for-bit.
   * Constant dimensions (range 0) code to 0. Scale shape: one
   * posexplode pass + a 64-row broadcast join — no vector shuffle. */
  private def qQuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val q = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        floor(col("x").cast("double") * 1000000d + 0.5).cast("long").as("qv"))
    val cal = q.groupBy("pos").agg(min("qv").as("qmin"), max("qv").as("qmax"))
    q.join(broadcast(cal), Seq("pos"))
      .select(col("vec_id"), col("pos"),
        when(col("qmax") === col("qmin"), 0L)
          .otherwise(expr("((qv - qmin) * 510 + (qmax - qmin)) div (2 * (qmax - qmin))"))
          .cast("long").as("code"))
      .orderBy("vec_id", "pos")
  }

  /** C83 (r15): sequence-length bucketing / padding-waste report —
   * the batch-shape audit a training loader runs before fixing bucket
   * boundaries: docs bucket to a FIXED power-of-two token-cap ladder
   * (16 … 4096, clamped at the top), and each bucket reports doc
   * count, true token mass, padded mass (cap × docs), and waste ppm.
   * The ladder is a CASE chain, not log2 (float log at exact powers
   * of two is engine-dependent; integer compares are not). One scan +
   * one small aggregate; the integer waste_ppm division truncates
   * identically in both engines. */
  private def qLengthBuckets(s: SparkSession, dir: String): DataFrame = {
    val caps = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)
    val toks = t(s, dir, "documents")
      .select(size(TextFunctions.wsTokens(col("text"))).cast("long").as("n_tok"))
    val cap = caps.init.foldRight(lit(caps.last): org.apache.spark.sql.Column) {
      (c, acc) => when(col("n_tok") <= c, c).otherwise(acc)
    }
    toks.withColumn("cap", cap)
      .groupBy("cap")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))
      .select(col("cap"), col("n_docs"), col("sum_tok"),
        (col("cap") * col("n_docs")).as("padded_tok"),
        expr("(cap * n_docs - sum_tok) * 1000000 div (cap * n_docs)").as("waste_ppm"))
      .orderBy("cap")
  }

  /** C84 (r15): distributed BPE merge induction
   * ([[graft.text.Bpe.learnMerges]]) — the tokenizer-training core:
   * the corpus collapses once to the (word, freq) vocabulary, then
   * every merge round runs vocabulary-sized with ONE-row driver state
   * (best pair by weighted replace-count, ties lexicographic —
   * deterministic). The oracle unrolls the SAME eight rounds in
   * DuckDB (generated CTE chain, the hash-replay precedent), so the
   * learned merge table is hash-checked end to end. */
  private def qBpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.text.Bpe.learnMerges(t(s, dir, "documents"), "text", 8)
      .zipWithIndex
      .map { case ((pair, merged, wcnt), i) => (i + 1L, pair, merged, wcnt) }
      .toDF("merge_idx", "pair", "merged", "wcnt")
      .orderBy("merge_idx")
  }

  /** C85 (r15): BPE segmentation report
   * ([[graft.text.Bpe.segmentReport]]) — the learned merges applied
   * back to the corpus: per doc, word count, symbols before (word
   * characters) and tokens after the eight merges — the compression
   * evidence that justifies a vocabulary budget. One corpus pass; the
   * merge chain is a codegen'd per-row replace chain. */
  private def qBpeApply(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = graft.text.Bpe.learnMerges(docs, "text", 8).map(_._1)
    graft.text.Bpe.segmentReport(docs, "doc_id", "text", merges)
      .orderBy("doc_id")
  }

  /** C84b (r16): BATCHED BPE merge induction
   * ([[graft.text.Bpe.learnMergesBatched]]) — the scale path of the
   * C84 trainer (VERDICT r15 #4): real tokenizers learn 10⁴–10⁵
   * merges, so rounds must not equal merges. Each round picks the
   * top-8 pairwise symbol-disjoint pairs from a 32-candidate window
   * (rank-window disjointness — one anti-join, engine-replayable)
   * and applies them as one chain: ~5 disjoint picks materialize per
   * round on this corpus, so 14 driver round trips learn 65+ merges
   * (vs 65+ trips sequentially). The oracle unrolls the SAME 14
   * batched rounds in DuckDB —
   * candidate window, disjointness anti-join, pick cap, and the
   * list_reduce replace fold — so the full merge table is
   * hash-checked end to end. */
  private def qBpeMergesBatched(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.text.Bpe
      .learnMergesBatched(t(s, dir, "documents"), "text", rounds = 14, kBatch = 8)
      .zipWithIndex
      .map { case ((round, pick, pair, merged, wcnt), i) =>
        (i + 1L, round.toLong, pick.toLong, pair, merged, wcnt) }
      .toDF("merge_idx", "round", "pick", "pair", "merged", "wcnt")
      .orderBy("merge_idx")
  }

  /** C71 (r14): centroid-distance outlier audit — the mislabel /
   * contamination detector a curator runs over an embedded corpus:
   * each vector's exact squared distance to its OWN class centroid
   * (C51's integer-micros centroids — engine-reproducible, no float
   * reduction order), top-3 farthest per class via B54's
   * bounded-state top-k (never a per-class sort of all vectors).
   * All-integer: micros ≤ ~4e6, so Σ₆₄ diff² ≤ ~4e15 — inside long
   * with three orders of margin (the B55 audit, done up front). */
  private def qCentroidOutliers(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("dim").cast("long").as("dim"),
        round(col("x") * 1000000d, 0).cast("long").as("micro"))
    val cent = m.groupBy("label", "dim")
      .agg(expr("sum(micro) div count(1)").as("cent"))
    val dist = m.join(broadcast(cent), Seq("label", "dim"))
      .groupBy("vec_id", "label")
      .agg(sum((col("micro") - col("cent")) * (col("micro") - col("cent")))
        .as("dist_sq"))
    graft.operators.TopK
      .topKPerGroup(dist, Seq("label"), "dist_sq", "vec_id", k = 3)
      .select(col("label"), col("rank").as("rnk"), col("id").as("vec_id"),
        col("score").as("dist_sq"))
      .orderBy("label", "rnk")
  }

  /** C72 (r14): exact tie-aware ranking AUC per segment — the metric
   * a curator runs to decide whether a cheap quality signal (here:
   * document length) actually RANKS the gold label (lang = 'en')
   * within each source, before spending it as a filter. Float AUC
   * from a sort is not replayable evidence; this is the exact
   * Mann-Whitney identity in integers: AUC · 2·P·N =
   * 2·#{(pos,neg): score_pos > score_neg} + #{score ties across
   * classes}. Computed WITHOUT per-row ranks: one (source, score)
   * aggregate collapses the corpus to the distinct-score relation,
   * a per-source prefix sum over that (score-domain-sized, never
   * row-sized — the partitions are per-source, no global window)
   * yields negatives-below, and one more aggregate closes the form.
   * Capacity: P·N per source ≤ n² and the ×1e6 quotient runs in
   * decimal(38,0), so no long overflow at any source size. */
  private def qRankingAuc(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(
      col("source"),
      col("n_chars").as("score"),
      (col("lang") === "en").cast("long").as("pos"))
    val byScore = d.groupBy("source", "score")
      .agg(sum("pos").as("p"), (count(lit(1)) - sum("pos")).as("n"))
    val below = Window.partitionBy("source").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("n_below", coalesce(sum("n").over(below), lit(0L)))
      .groupBy("source")
      .agg(
        sum("p").as("n_pos"), sum("n").as("n_neg"),
        (sum(col("p") * col("n_below")) * 2L + sum(col("p") * col("n")))
          .as("auc_num_2x"))
      .withColumn("auc_den_2x", col("n_pos") * col("n_neg") * 2L)
      .withColumn("auc_micros",
        when(col("auc_den_2x") === 0L, lit(null).cast("long")).otherwise(
          expr("CAST(CAST(auc_num_2x AS DECIMAL(38,0)) * 1000000 div auc_den_2x AS BIGINT)")))
      .orderBy("source")
  }

  /** C79 (r14): hybrid-retrieval flagship — the composition a
   * production retrieval stack actually runs, end to end: lexical
   * BM25 (C43) and exact semantic distance rankings fused by RRF
   * (C76), the fused top-8 shortlist diversified by MMR (C77,
   * [[graft.similarity.Ann.mmrSelectFrom]]) into the final 3-doc
   * context. The flagship row verifies the stage contracts no
   * per-operator oracle sees together: the rank→fusion id space, the
   * fused-pool→MMR handoff, and the relevance/separation arithmetic
   * across operators — the oracle replays ALL four stages (BM25
   * closed form, micros distances, RRF, three unrolled greedy picks)
   * in one SQL statement. */
  private def qHybridRetrieval(s: SparkSession, dir: String): DataFrame = {
    val lex = graft.text.TfIdf.bm25TopK(t(s, dir, "documents"),
        "doc_id", "text", Seq("vector", "stream", "window"), 20)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_ppm").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val emb = t(s, dir, "embeddings")
    val m = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        round(col("x") * 1000000d, 0).cast("long").as("micro"))
    val p = m.filter(col("vec_id") === 0L)
      .select(col("dim"), col("micro").as("pm"))
    val sem = m.join(broadcast(p), Seq("dim"))
      .filter(col("vec_id") =!= 0L)
      .groupBy("vec_id")
      .agg(sum((col("micro") - col("pm")) * (col("micro") - col("pm")))
        .as("dq"))
      .orderBy(col("dq"), col("vec_id")).limit(20)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("dq"), col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
        coalesce(expr("1000000 div (60 + sem_rank)"), lit(0L)))
      .orderBy(col("rrf_ppm").desc, col("doc_id")).limit(8)
    graft.similarity.Ann.mmrSelectFrom(emb,
        emb.filter(col("vec_id") === 0L), fused.select("doc_id"),
        "vec_id", "embedding", selectK = 3)
      .join(fused.select(col("doc_id").as("vec_id"), col("rrf_ppm")), Seq("vec_id"))
      .select("sel_rank", "vec_id", "rrf_ppm", "dist_q", "gain")
      .orderBy("sel_rank")
  }

  /** C80 (r14): balanced shard assignment
   * ([[graft.operators.Sampling.shardAssign]]) — the data-parallel
   * loader split: stripe documents across 8 shards in (size desc, id)
   * rank order, the deterministic first-fit-decreasing rendering.
   * Hash splits balance counts, not token mass; this bounds per-shard
   * mass skew by construction. The global rank is the two-level
   * range-partitioned rank over a fail-loud packed key — never a
   * single-partition window. */
  private def qShardAssign(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.shardAssign(
        t(s, dir, "documents"), "doc_id", "n_chars", nShards = 8)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("size").as("sum_chars"),
        min("size").as("min_chars"), max("size").as("max_chars"))
      .orderBy("shard")

  /** C78 (r14): calibration curve (reliability diagram) — the
   * companion gate to C72's ranking AUC: a signal can RANK well yet
   * be badly calibrated, and a filter threshold chosen from its raw
   * values then keeps the wrong mass. Ten fixed-width score buckets
   * over the observed [min, max] (1-row broadcast bounds); per bucket
   * the positive rate in ppm (truncating div) against the bucket's
   * exact score sum — all integers, monotonically auditable. */
  private def qCalibration(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(
      col("n_chars").as("score"),
      (col("lang") === "en").cast("long").as("pos"))
    val bounds = d.agg(min("score").as("mn"), max("score").as("mx"))
    d.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(expr("(score - mn) * 10 div (mx - mn + 1)"), lit(9L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("pos").as("n_pos"),
        sum("score").as("sum_score"))
      .withColumn("pos_ppm", expr("n_pos * 1000000 div n_docs"))
      .orderBy("bucket")
  }

  /** C76 (r14): reciprocal-rank fusion — the standard hybrid-retrieval
   * merge: a lexical ranking (C43's fixed-point BM25 top-20) and a
   * semantic ranking (exact integer-micros distance to a probe
   * embedding, top-20) fused as Σ 10⁶ div (60 + rank) per doc, a doc
   * missing from a list contributing nothing. RRF is rank-only — no
   * score normalization across incomparable scales — which is exactly
   * why production hybrid search uses it. Both per-list rank windows
   * run AFTER a TakeOrdered limit, so they sort 20 rows, never the
   * corpus; the fusion join is 40 rows total. Integer throughout. */
  private def qRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val lex = graft.text.TfIdf.bm25TopK(t(s, dir, "documents"),
        "doc_id", "text", Seq("vector", "stream", "window"), 20)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_ppm").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val m = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        round(col("x") * 1000000d, 0).cast("long").as("micro"))
    val p = m.filter(col("vec_id") === 0L)
      .select(col("dim"), col("micro").as("pm"))
    val sem = m.join(broadcast(p), Seq("dim"))
      .filter(col("vec_id") =!= 0L)
      .groupBy("vec_id")
      .agg(sum((col("micro") - col("pm")) * (col("micro") - col("pm")))
        .as("dq"))
      .orderBy(col("dq"), col("vec_id")).limit(20)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("dq"), col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
        coalesce(expr("1000000 div (60 + sem_rank)"), lit(0L)))
      .orderBy(col("rrf_ppm").desc, col("doc_id")).limit(10)
      .select("doc_id", "lex_rank", "sem_rank", "rrf_ppm")
  }

  /** C77 (r14): MMR diversified re-rank
   * ([[graft.similarity.Ann.mmrRerank]]) — top-8 exact candidates of
   * probe 0, 4 selected by the doubled integer MMR objective
   * (min-separation-from-selected − relevance, λ = 1/2); the oracle
   * unrolls all four greedy steps as scalar-subquery CTE stages in
   * HUGEINT space, so every pick, distance, and gain hash-compares. */
  private def qMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.similarity.Ann.mmrRerank(emb, emb.filter(col("vec_id") === 0L),
        "vec_id", "embedding", poolK = 8, selectK = 4)
      .orderBy("sel_rank")
  }

  /** C74 (r14): hard-negative mining — for each probe vector, the
   * NEAREST vector of a DIFFERENT label: the contrastive-training
   * data a retrieval model needs (easy negatives teach nothing; the
   * closest wrong-label example is the gradient that matters).
   * Exact integer-micros distances (the C71 discipline — float
   * reduction order isn't replayable evidence); the winner per probe
   * is the lexicographic (dist, id) struct-MIN — one bounded
   * aggregate, no per-probe sort. Probes broadcast (bounded set);
   * the dim-keyed join against the exploded corpus is the C6
   * brute-force baseline shape — at index scale the C7 IVF path
   * generates candidates and this exact scorer re-ranks them. */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("dim").cast("long").as("dim"),
        round(col("x") * 1000000d, 0).cast("long").as("micro"))
    val probes = m.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
        col("dim"), col("micro").as("pm"))
    m.join(broadcast(probes), Seq("dim"))
      .filter(col("label") =!= col("probe_label"))
      .groupBy("probe_id", "probe_label", "vec_id")
      .agg(sum((col("micro") - col("pm")) * (col("micro") - col("pm")))
        .as("dist_sq"))
      .groupBy("probe_id", "probe_label")
      .agg(min(struct(col("dist_sq"), col("vec_id"))).as("b"))
      .select(col("probe_id"), col("probe_label"),
        col("b").getField("vec_id").as("neg_id"),
        col("b").getField("dist_sq").as("dist_sq"))
      .orderBy("probe_id")
  }

  /** C75 (r14): code-switch detection — within-document language
   * mixing: C8's stopword-argmax lang-id applied to each HALF of the
   * document (character midpoint, integer div so both engines split
   * identically); a doc whose halves disagree (neither undetermined)
   * is flagged. The corpus is monolingual per doc, so a deterministic
   * French-stopword tail is injected into every doc_id ≡ 0 (mod 3)
   * (the withContact convention: the construction is mirrored exactly
   * in the oracle) — those docs must flag, the rest must not.
   * Scale: two codegen'd kernel calls per row, no join, no shuffle
   * before the final per-source rollup. */
  private def qCodeSwitch(s: SparkSession, dir: String): DataFrame = {
    val mixed = t(s, dir, "documents").withColumn("mixed",
      when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit(" le la les des est et une dans que pour pas vous")))
        .otherwise(col("text")))
    mixed
      .withColumn("lang_head", TextFunctions.langId(
        expr("substring(mixed, 1, length(mixed) div 2)")))
      .withColumn("lang_tail", TextFunctions.langId(
        expr("substring(mixed, length(mixed) div 2 + 1)")))
      .select(col("doc_id"), col("source"), col("lang_head"), col("lang_tail"),
        (col("lang_head") =!= col("lang_tail") &&
          col("lang_head") =!= "und" && col("lang_tail") =!= "und")
          .as("is_switch"))
      .orderBy("doc_id")
  }

  /** C73 (r14): vocabulary coverage curve per source — the tokenizer-
   * planning statistic: how many distinct terms (ranked by frequency,
   * ties lexicographic) cover 90% of a source's token occurrences,
   * and what fraction the top-100 alone covers. A corpus where 500
   * terms cover 90% tokenizes very differently from one needing 50k —
   * this drives vocab-size and BPE-merge budgets before training.
   * Scale: the corpus collapses to the (source, term) frequency
   * relation in one map-side-combined aggregate; the rank/cumsum
   * window runs on THAT (vocabulary-sized, partitioned per source —
   * never a row-sized or global window); one closing aggregate. */
  private def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val tf = t(s, dir, "documents")
      .select(col("source"),
        explode(TextFunctions.wsTokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
    val totals = tf.groupBy("source")
      .agg(sum("cnt").as("n_tokens"), count(lit(1)).as("n_terms"))
    val byFreq = Window.partitionBy("source").orderBy(col("cnt").desc, col("tok"))
    tf
      .withColumn("rnk", row_number().over(byFreq))
      .withColumn("cum", sum("cnt").over(
        byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(totals), "source")
      .groupBy("source", "n_tokens", "n_terms")
      .agg(
        min(when(col("cum") * 10L >= col("n_tokens") * 9L, col("rnk")))
          .cast("long").as("vocab90"),
        sum(when(col("rnk") <= 100L, col("cnt")).otherwise(0L)).as("top100"))
      .withColumn("top100_ppm", expr("top100 * 1000000 div n_tokens"))
      .select("source", "n_tokens", "n_terms", "vocab90", "top100_ppm")
      .orderBy("source")
  }

  /** C52 (r13): bigram surprisal with stupid-backoff
   * ([[graft.text.Surprisal.docBigramSurprisal]]) — the held-out
   * strengthening of C47's unigram score toward CCNet's KenLM
   * scoring: the model trains on the EVEN-id half of the corpus and
   * scores every document, so odd docs genuinely exercise the
   * unseen-bigram backoff branch (1-bit penalty + unigram bits) and
   * unseen-unigram ceiling. Whole-bit integers end-to-end — the
   * oracle replays the model exactly. */
  private def qBigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.text.Surprisal
      .docBigramSurprisal(docs, docs.filter(col("doc_id") % 2 === 0))
      .orderBy("doc_id")
  }

  /** CTE block: token hashes → `sh(rep_id, sh)` = the DISTINCT
   * word-3-gram shingle-hash set (HashOps.wordShingleHashes): rolling
   * acc = mix64(acc ⊕ tokHash) over each 3-token window. Reps with
   * < 3 tokens are ABSENT (empty set), matching the engine.
   * One MATERIALIZED layer per mix64 round: a lateral alias is
   * substituted textually, so chaining the three rounds inside one
   * SELECT would nest the duplication ~32× per round (the first cut
   * of this oracle ran MINUTES at sf0.01 for exactly that reason);
   * materializing each round's output column keeps every round a
   * constant-size expression over a stored column. */
  private val sqlShingleCtes: String =
    """seq AS MATERIALIZED (SELECT rep_id, list(th ORDER BY pos) AS ths
           FROM tocc JOIN dh USING (tok) GROUP BY rep_id),
         sj AS MATERIALIZED (SELECT rep_id, ths[CAST(j AS INT)] AS t0,
             ths[CAST(j AS INT)+1] AS t1, ths[CAST(j AS INT)+2] AS t2
           FROM seq, UNNEST(range(1, len(ths)-1)) AS u(j)),
         smA AS MATERIALIZED (SELECT rep_id, t1, t2, """ +
      sqlMixCols(sqlXor64("14695981039346656037", "t0"), "a") + """
           FROM sj),
         smB AS MATERIALIZED (SELECT rep_id, t2, """ +
      sqlMixCols(sqlXor64("ao", "t1"), "b") + """
           FROM smA),
         smC AS MATERIALIZED (SELECT rep_id, """ +
      sqlMixCols(sqlXor64("bo", "t2"), "c") + """
           FROM smB),
         sh AS MATERIALIZED (SELECT rep_id, list(DISTINCT CAST(co AS UBIGINT)) AS sh
           FROM smC GROUP BY rep_id),"""

  /** DuckDB replay of the C84 BPE trainer: the (word, freq)
   * vocabulary, then `n` unrolled merge rounds (the hash-replay
   * generated-CTE precedent). Each round: adjacent-pair enumeration
   * over the current segmentation, weighted replace-count, best pair
   * (count desc, pair lex), fold the winner in. Emits CTEs
   * `vocab, v0..v{n}` (padded symbol strings, word kept) and
   * `b1..b{n}` (each round's winner). */
  private def sqlBpeRounds(n: Int): String = {
    val head =
      """vocab AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
           SELECT unnest(list_filter(regexp_split_to_array(TRIM(text), '\s+'), t -> t <> '')) AS w
           FROM documents) GROUP BY w),
         v0 AS MATERIALIZED (SELECT w,
           ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS sym, freq
           FROM vocab),"""
    val rounds = (1 to n).map { r =>
      s"""b$r AS MATERIALIZED (
           SELECT pair, CAST(SUM(((length(sym) - length(replace(sym, ' ' || pair || ' ', ' ')))
               // (length(pair) + 1)) * freq) AS BIGINT) AS wcnt
           FROM (SELECT sym, freq, u.pr AS pair FROM (
             SELECT sym, freq,
               list_distinct(list_transform(range(1, len(syms)),
                 i -> syms[CAST(i AS INT)] || ' ' || syms[CAST(i AS INT) + 1])) AS prs
             FROM (SELECT sym, freq, string_split(trim(sym), ' ') AS syms FROM v${r - 1})
             WHERE len(syms) >= 2), UNNEST(prs) AS u(pr))
           GROUP BY pair ORDER BY wcnt DESC, pair LIMIT 1),
         v$r AS MATERIALIZED (
           SELECT w, replace(sym, ' ' || (SELECT pair FROM b$r) || ' ',
             ' ' || (SELECT replace(pair, ' ', '') FROM b$r) || ' ') AS sym, freq
           FROM v${r - 1}),"""
    }.mkString("\n         ")
    head + "\n         " + rounds
  }

  /** DuckDB replay of the C84b BATCHED BPE trainer: per round, the
   * full weighted pair-count relation, the top-`window` candidate
   * list (wcnt desc, pair lex → rn), the rank-window disjointness
   * anti-join (a candidate survives iff its two symbols avoid the
   * symbols AND merged form of every better-ranked candidate), the
   * first-`kBatch` pick cap, and the ordered replace fold via
   * list_reduce — exactly [[graft.text.Bpe.learnMergesBatched]]'s
   * rule, unrolled. Emits CTEs `vocab, v0..v{rounds}` and
   * `sel1..sel{rounds}` (each round's picks). */
  private def sqlBpeBatchedRounds(rounds: Int, kBatch: Int): String = {
    val window = kBatch * 4
    val head =
      """vocab AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
           SELECT unnest(list_filter(regexp_split_to_array(TRIM(text), '\s+'), t -> t <> '')) AS w
           FROM documents) GROUP BY w),
         v0 AS MATERIALIZED (SELECT w,
           ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS sym, freq
           FROM vocab),"""
    val perRound = (1 to rounds).map { r =>
      s"""cand$r AS MATERIALIZED (
           SELECT pair, wcnt, row_number() OVER (ORDER BY wcnt DESC, pair) AS rn FROM (
             SELECT pair, CAST(SUM(((length(sym) - length(replace(sym, ' ' || pair || ' ', ' ')))
                 // (length(pair) + 1)) * freq) AS BIGINT) AS wcnt
             FROM (SELECT sym, freq, u.pr AS pair FROM (
               SELECT sym, freq,
                 list_distinct(list_transform(range(1, len(syms)),
                   i -> syms[CAST(i AS INT)] || ' ' || syms[CAST(i AS INT) + 1])) AS prs
               FROM (SELECT sym, freq, string_split(trim(sym), ' ') AS syms FROM v${r - 1})
               WHERE len(syms) >= 2), UNNEST(prs) AS u(pr))
             GROUP BY pair)
           ORDER BY wcnt DESC, pair LIMIT $window),
         sel$r AS MATERIALIZED (
           SELECT pair, wcnt, row_number() OVER (ORDER BY rn) AS pick FROM (
             SELECT c1.pair, c1.wcnt, c1.rn FROM cand$r c1 WHERE NOT EXISTS (
               SELECT 1 FROM cand$r c2 WHERE c2.rn < c1.rn AND (
                 string_split(c2.pair, ' ')[1] IN (string_split(c1.pair, ' ')[1], string_split(c1.pair, ' ')[2]) OR
                 string_split(c2.pair, ' ')[2] IN (string_split(c1.pair, ' ')[1], string_split(c1.pair, ' ')[2]) OR
                 replace(c2.pair, ' ', '') IN (string_split(c1.pair, ' ')[1], string_split(c1.pair, ' ')[2])))
             ORDER BY rn LIMIT $kBatch)),
         v$r AS MATERIALIZED (
           SELECT w, list_reduce(list_prepend(sym,
               coalesce((SELECT list(pair ORDER BY pick) FROM sel$r), [])),
             (acc, p) -> replace(acc, ' ' || p || ' ', ' ' || replace(p, ' ', '') || ' ')) AS sym, freq
           FROM v${r - 1}),"""
    }.mkString("\n         ")
    head + "\n         " + perRound
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_dedup_exact", qDedupExact,
      """SELECT md5(text) AS text_md5, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
         CAST(COUNT(*) AS BIGINT) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY keep_id"""),
    // full keep-table replay of the LAYERED minhash dedup (exact text
    // collapse first, then >= 0.8-Jaccard pairs among the reps) via
    // brute-force shingle STRINGS — valid because the banded LSH's
    // verify stage confirms exact Jaccard before any drop, so its
    // keep-table equals the exact relation whenever recall holds;
    // a hash mismatch here IS a recall regression, which is exactly
    // what the row should catch (the standing _sound gate still
    // hedges soundness independently)
    QuerySpec("q_dedup_minhash", qDedupMinhash,
      """WITH keyed AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
         reps AS (SELECT text, MIN(doc_id) AS rep_id FROM keyed GROUP BY text),
         toks AS (SELECT rep_id,
           list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
           FROM reps),
         g AS (SELECT rep_id, list(DISTINCT array_to_string(ts[i : i + 2], ' ')) AS sh
               FROM toks, UNNEST(range(1, len(ts) - 1)) AS u(i) GROUP BY rep_id),
         dead AS (SELECT b.rep_id AS dead_rep, CAST(COUNT(*) AS BIGINT) AS n_near
               FROM g a JOIN g b ON a.rep_id < b.rep_id
               AND len(list_intersect(a.sh, b.sh)) * 1.0 /
                   len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
               GROUP BY 1)
         SELECT k.doc_id,
           CAST(CASE WHEN k.doc_id <> r.rep_id THEN 1 ELSE 0 END
             + COALESCE(d.n_near, 0) AS BIGINT) AS n_dups_smaller,
           (k.doc_id = r.rep_id AND d.n_near IS NULL) AS keep
         FROM keyed k JOIN reps r ON k.text = r.text
         LEFT JOIN dead d ON r.rep_id = d.dead_rep
         ORDER BY doc_id"""),
    QuerySpec("q_dedup_minhash_sound", qDedupMinhashSound,
      """SELECT doc_id FROM documents WHERE 1 = 0 ORDER BY doc_id"""),
    // FULL keep-table replay of the layered SimHash dedup: exact text
    // collapse, then Hamming<=3 pairs among rep signatures. Unlike
    // MinHash banding, the pigeonhole blocking is COMPLETE (4 blocks
    // of 16 bits; <=3 differing bits leave >=1 block identical), so
    // the engine's keep-table provably equals this brute-force
    // all-pairs replay — the oracle recomputes the 64-bit signature
    // itself (FNV-1a votes, mod-2^64 CTEs above) and a hash mismatch
    // is a signature or blocking bug, never banding recall noise.
    QuerySpec("q_dedup_simhash", qDedupSimhash,
      ("""WITH keyed AS MATERIALIZED (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
         reps AS MATERIALIZED (SELECT MIN(doc_id) AS rep_id, text FROM keyed GROUP BY text),
         """ + sqlTokenCtes + """
         tc AS MATERIALIZED (SELECT rep_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM tocc GROUP BY rep_id, tok),
         votes AS MATERIALIZED (SELECT rep_id, CAST(b.b AS INT) AS bit,
             SUM(cnt * CASE WHEN (CAST(th AS UBIGINT) >> CAST(b.b AS INT)) & 1 = 1
                 THEN 1 ELSE -1 END) AS v
           FROM tc JOIN dh USING (tok), UNNEST(range(0, 64)) AS b(b)
           GROUP BY rep_id, bit),
         simv AS MATERIALIZED (SELECT rep_id,
             SUM(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << bit ELSE 0 END) AS s
           FROM votes GROUP BY rep_id),
         sims AS MATERIALIZED (SELECT r.rep_id, CAST(COALESCE(v.s, 0) AS UBIGINT) AS sim
           FROM reps r LEFT JOIN simv v USING (rep_id)),
         dead AS (SELECT b.rep_id AS dead_rep, CAST(COUNT(*) AS BIGINT) AS n_near
           FROM sims a JOIN sims b ON a.rep_id < b.rep_id
             AND bit_count(xor(a.sim, b.sim)) <= 3
           GROUP BY 1)
         SELECT k.doc_id,
           CAST(CASE WHEN k.doc_id <> r.rep_id THEN 1 ELSE 0 END
             + COALESCE(d.n_near, 0) AS BIGINT) AS n_dups_smaller,
           (k.doc_id = r.rep_id AND d.n_near IS NULL) AS keep
         FROM keyed k JOIN reps r ON k.text = r.text
         LEFT JOIN dead d ON r.rep_id = d.dead_rep
         ORDER BY doc_id""")),
    QuerySpec("q_dedup_simhash_sound", qDedupSimhashSound,
      """SELECT doc_id FROM documents WHERE 1 = 0 ORDER BY doc_id"""),
    QuerySpec("q_dedup_jaccard", qDedupJaccard,
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
           FROM documents),
         g AS (SELECT doc_id, list(DISTINCT array_to_string(ts[i : i + 2], ' ')) AS sh
               FROM toks, UNNEST(range(1, len(ts) - 1)) AS u(i) GROUP BY doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.sh, b.sh)) * 1.0 /
           len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         FROM g a JOIN g b ON b.doc_id = a.doc_id + 1 ORDER BY id_a"""),
    QuerySpec("q_dedup_jaccard_exact", qDedupJaccardExact,
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
           FROM documents),
         g AS (SELECT doc_id, list(DISTINCT array_to_string(ts[i : i + 2], ' ')) AS sh
               FROM toks, UNNEST(range(1, len(ts) - 1)) AS u(i) GROUP BY doc_id),
         d AS (SELECT DISTINCT a.doc_id AS id FROM g a JOIN g b ON b.doc_id < a.doc_id
               AND len(list_intersect(a.sh, b.sh)) * 1.0 /
                   len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
         SELECT doc_id FROM documents ANTI JOIN d ON doc_id = id ORDER BY doc_id"""),
    // FULL keep-table replay of the layered anchored-containment
    // dedup: exact text collapse, anchor sampling (shingle hash ≡ 0
    // mod 8, df <= 1000), exact containment verify |A∩B|/|A| >= 0.9,
    // and the (size desc, id asc) kill rule — the documented
    // algorithm recomputed end-to-end in a second engine over the
    // same hash space (mod-2^64 CTEs above). The _sound gate and the
    // C33b brute-force twin carry the semantic-recall side; this row
    // pins the distributed implementation.
    QuerySpec("q_dedup_containment", qDedupContainment,
      ("""WITH keyed AS MATERIALIZED (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
         reps AS MATERIALIZED (SELECT MIN(doc_id) AS rep_id, text FROM keyed GROUP BY text),
         """ + sqlTokenCtes + """
         """ + sqlShingleCtes + """
         anch AS MATERIALIZED (SELECT rep_id, u.a AS anchor FROM sh, UNNEST(sh) AS u(a)
           WHERE u.a % 8 = 0),
         rare AS MATERIALIZED (SELECT anchor FROM anch GROUP BY anchor HAVING COUNT(*) <= 1000),
         pr AS MATERIALIZED (SELECT rep_id, anchor FROM anch JOIN rare USING (anchor)),
         cand AS MATERIALIZED (SELECT DISTINCT a.rep_id AS id_x, b.rep_id AS id_y
           FROM pr a JOIN pr b USING (anchor) WHERE a.rep_id < b.rep_id),
         ver AS MATERIALIZED (SELECT id_x, id_y, len(list_intersect(x.sh, y.sh)) AS inter,
             len(x.sh) AS sz_x, len(y.sh) AS sz_y
           FROM cand JOIN sh x ON id_x = x.rep_id JOIN sh y ON id_y = y.rep_id),
         killed AS (
           SELECT id_x AS dead_rep FROM ver
           WHERE inter * 1.0 / sz_x >= 0.9
             AND (sz_y > sz_x OR (sz_y = sz_x AND id_y < id_x))
           UNION ALL
           SELECT id_y AS dead_rep FROM ver
           WHERE inter * 1.0 / sz_y >= 0.9
             AND (sz_x > sz_y OR (sz_x = sz_y AND id_x < id_y))),
         kc AS (SELECT dead_rep, CAST(COUNT(*) AS BIGINT) AS n_cont
           FROM killed GROUP BY 1)
         SELECT k.doc_id,
           CAST(CASE WHEN k.doc_id <> r.rep_id THEN 1 ELSE 0 END
             + COALESCE(kc.n_cont, 0) AS BIGINT) AS n_containers,
           (k.doc_id = r.rep_id AND kc.n_cont IS NULL) AS keep
         FROM keyed k JOIN reps r ON k.text = r.text
         LEFT JOIN kc ON r.rep_id = kc.dead_rep
         ORDER BY doc_id""")),
    QuerySpec("q_dedup_containment_sound", qDedupContainmentSound,
      """SELECT doc_id FROM documents WHERE 1 = 0 ORDER BY doc_id"""),
    QuerySpec("q_dedup_containment_exact", qDedupContainmentExact,
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
           FROM documents),
         g AS (SELECT doc_id, list(DISTINCT array_to_string(ts[i : i + 2], ' ')) AS sh
               FROM toks, UNNEST(range(1, len(ts) - 1)) AS u(i) GROUP BY doc_id),
         d AS (SELECT DISTINCT a.doc_id AS id FROM g a JOIN g b ON a.doc_id <> b.doc_id
               AND (len(b.sh) > len(a.sh) OR (len(b.sh) = len(a.sh) AND b.doc_id < a.doc_id))
               AND len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh) >= 0.9)
         SELECT doc_id FROM documents ANTI JOIN d ON doc_id = id ORDER BY doc_id"""),
    QuerySpec("q_dedup_clusters_exact", qDedupClustersExact,
      """WITH RECURSIVE edges AS MATERIALIZED (
           -- inverted-index overlap counting: candidate pairs share >= 1
           -- word-3-gram, their exact intersection is COUNTED by one
           -- parallel join+aggregate (no per-pair list ops), and
           -- Jaccard >= 0.8 is the exact integer predicate
           -- 9*o >= 4*(|A|+|B|)  <=>  o/(|A|+|B|-o) >= 4/5. Only tiny
           -- relations may be NAMED in this RECURSIVE with-list: DuckDB
           -- materializes every CTE of a recursive clause and scans it
           -- single-threaded, so the heavy pipeline stays inline as
           -- derived tables (sf1: 450s -> 15s).
           SELECT CASE WHEN d.i = 0 THEN p.u ELSE p.v END AS u,
                  CASE WHEN d.i = 0 THEN p.v ELSE p.u END AS v
           FROM (
             SELECT ov.u, ov.v FROM (
               SELECT b.doc_id AS u, a.doc_id AS v, COUNT(*) AS o
               FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) a
               JOIN (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) b
                 ON a.s = b.s AND b.doc_id < a.doc_id
               GROUP BY 1, 2) ov
             JOIN (SELECT doc_id, COUNT(*) AS n FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) ga GROUP BY doc_id) sa
               ON sa.doc_id = ov.u
             JOIN (SELECT doc_id, COUNT(*) AS n FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) gb GROUP BY doc_id) sb
               ON sb.doc_id = ov.v
             WHERE 9 * ov.o >= 4 * (sa.n + sb.n)) p
           CROSS JOIN (VALUES (0), (1)) d(i)),
         reach(src, dst) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.src, e2.v FROM reach r JOIN edges e2 ON r.dst = e2.u),
         comp AS (SELECT src AS node, LEAST(src, MIN(dst)) AS cluster FROM reach GROUP BY src)
         SELECT doc_id, COALESCE(c.cluster, doc_id) AS cluster
         FROM documents LEFT JOIN comp c ON doc_id = c.node
         ORDER BY doc_id"""),
    // full keep-table replay of the embedding-LSH dedup at 0.6 (the
    // bucketed pipeline verifies exact cosine before dropping; its
    // keep-table equals the exact relation whenever recall holds —
    // a mismatch IS a recall regression)
    QuerySpec("q_dedup_embed", qDedupEmbed,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         dups AS (SELECT a.vec_id AS dup_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM e a JOIN e b ON b.vec_id < a.vec_id
           AND list_cosine_similarity(a.emb, b.emb) >= 0.6 GROUP BY 1)
         SELECT e.vec_id, COALESCE(d.n, 0) AS n_dups_smaller, d.n IS NULL AS keep
         FROM e LEFT JOIN dups d ON e.vec_id = d.dup_id ORDER BY vec_id"""),
    QuerySpec("q_dedup_embed_sound", qDedupEmbedSound,
      """SELECT vec_id FROM embeddings WHERE 1 = 0 ORDER BY vec_id"""),
    QuerySpec("q_dedup_embed_exact", qDedupEmbedExact,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         dups AS (SELECT DISTINCT a.vec_id AS dup_id FROM e a JOIN e b
           ON b.vec_id < a.vec_id
           AND list_cosine_similarity(a.emb, b.emb) >= 0.35)
         SELECT vec_id FROM e ANTI JOIN dups ON vec_id = dup_id ORDER BY vec_id"""),
    QuerySpec("q_semdedup", qSemdedup,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cents AS (SELECT MIN(vec_id) AS cid, emb AS cv FROM e GROUP BY emb
           ORDER BY cid LIMIT 8),
         asg AS (SELECT vec_id, emb, cid AS cluster FROM (
             SELECT e.vec_id, e.emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.emb, c.cv) DESC, c.cid) AS rn
             FROM e CROSS JOIN cents c) WHERE rn = 1),
         dups AS (SELECT DISTINCT a.vec_id AS dup_id FROM asg a JOIN asg b
           ON a.cluster = b.cluster AND b.vec_id < a.vec_id
           AND list_cosine_similarity(a.emb, b.emb) >= 0.35)
         SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
           dup_id IS NULL AS keep
         FROM asg a LEFT JOIN dups ON vec_id = dup_id ORDER BY vec_id"""),
    QuerySpec("q_top_ngrams", qTopNgrams,
      """WITH toks AS (SELECT list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), t -> t <> '') AS ts
                       FROM documents),
         bi AS (SELECT array_to_string(ts[i : i + 1], ' ') AS ngram
                FROM toks, UNNEST(range(1, len(ts))) AS u(i))
         SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt FROM bi
         GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 20"""),
    // equivalence classes replayed with the same truncating banding;
    // NULL-safe grouping is GROUP BY's default in both engines.
    QuerySpec("q_k_anonymity", qKAnonymity,
      """SELECT c_nationkey, c_mktsegment,
           CAST(round(c_acctbal * 100, 0) AS BIGINT) // 100000 AS bal_kband,
           CAST(COUNT(*) AS BIGINT) AS class_size
         FROM customer GROUP BY 1, 2, 3 HAVING COUNT(*) < 3
         ORDER BY 1, 2, 3"""),
    QuerySpec("q_k_anonymity_summary", qKAnonymitySummary,
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) // 100000 AS b,
             COUNT(*) AS n
           FROM customer GROUP BY 1, 2, 3)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN n < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_classes,
           CAST(SUM(CASE WHEN n < 3 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(MIN(n) AS BIGINT) AS anonymity_level,
           CAST(SUM(CASE WHEN n < 3 THEN n ELSE 0 END) * 1000000
             // SUM(n) AS BIGINT) AS risk_ppm,
           MIN(n) >= 3 AS satisfies_k
         FROM cls"""),
    // token identity replayed with the same byte-exact whitespace
    // split; vocabulary threshold and ppm all-integer.
    QuerySpec("q_oov_rate", qOovRate,
      """WITH occ AS (SELECT source, UNNEST(list_filter(
             regexp_split_to_array(COALESCE(text, ''), '[ \t\n\r]+'),
             t -> t <> '')) AS tok
           FROM documents),
         pairs AS (SELECT source, tok, COUNT(*) AS cnt
           FROM occ GROUP BY 1, 2),
         totals AS (SELECT tok, SUM(cnt) AS gcnt FROM pairs GROUP BY 1)
         SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN gcnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
             AS oov_occurrences,
           CAST(SUM(CASE WHEN gcnt < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov_types,
           CAST(SUM(CASE WHEN gcnt < 5 THEN cnt ELSE 0 END) * 1000000
             // SUM(cnt) AS BIGINT) AS oov_ppm
         FROM pairs JOIN totals USING (tok)
         GROUP BY source ORDER BY source"""),
    QuerySpec("q_ann_bruteforce", qAnnBruteforce,
      """WITH probes AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
         sims AS (
           SELECT p.vec_id AS probe_id, e.vec_id AS vec_id,
             list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
           FROM probes p CROSS JOIN embeddings e WHERE e.vec_id <> p.vec_id),
         ranked AS (
           SELECT probe_id, vec_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
           FROM sims)
         SELECT probe_id, rank, vec_id, ROUND(cos, 3) AS cos
         FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank"""),
    QuerySpec("q_ann_lsh", qAnnLsh,
      """SELECT vec_id AS probe_id, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 3 ORDER BY probe_id"""),
    QuerySpec("q_ann_pca", qAnnPca,
      """SELECT vec_id AS probe_id, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 3 ORDER BY probe_id"""),
    // C87: per-path aggregate recall floors (documented measurements
    // minus margin in the query scaladoc) — the QUALITY gate.
    QuerySpec("q_ann_recall", qAnnRecall,
      """SELECT * FROM (VALUES
           ('ivf',   CAST(5 AS BIGINT), CAST(20 AS BIGINT), CAST(600000 AS BIGINT), TRUE),
           ('ivfpq', 5, 20, 350000, TRUE),
           ('lsh',   5, 20, 450000, TRUE),
           ('pca',   5, 20, 700000, TRUE),
           ('pq',    5, 20, 330000, TRUE)
         ) t(path, k, n_probes, floor_ppm, recall_ok)
         ORDER BY path"""),
    QuerySpec("q_ann_ivf", qAnnIvf,
      """SELECT vec_id AS probe_id, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 3 ORDER BY probe_id"""),
    QuerySpec("q_ann_pq", qAnnPq,
      """SELECT vec_id AS probe_id, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 3 ORDER BY probe_id"""),
    QuerySpec("q_ann_ivfpq", qAnnIvfPq,
      """SELECT vec_id AS probe_id, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 3 ORDER BY probe_id"""),
    QuerySpec("q_ann_ivf_indexed", qAnnIvfIndexed,
      """SELECT vec_id AS probe_id, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 3 ORDER BY probe_id"""),
    QuerySpec("q_ann_ivf_append", qAnnIvfAppend,
      """SELECT vec_id AS probe_id, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 3 ORDER BY probe_id"""),
    QuerySpec("q_ann_ivfpq_indexed", qAnnIvfPqIndexed,
      """SELECT vec_id AS probe_id, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 3 ORDER BY probe_id"""),
    // C7h: the delete invariants — no doomed id in any post-delete
    // top-5 (through an append), recall holds vs brute force over the
    // surviving corpus, physical vacuum answer-identical to masking.
    QuerySpec("q_ann_ivf_delete", qAnnIvfDelete,
      """SELECT vec_id AS probe_id, TRUE AS deleted_excluded,
           TRUE AS recall_ok, TRUE AS vacuum_consistent
         FROM embeddings WHERE vec_id < 3 ORDER BY probe_id"""),
    QuerySpec("q_lang_id", qLangId,
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS ts
           FROM documents),
         h AS (SELECT doc_id,
           len(list_filter(ts, t -> list_contains(['the','and','of','to','is','in','that','it','with','for','this','are'], t))) AS en,
           len(list_filter(ts, t -> list_contains(['le','la','les','des','est','et','une','dans','que','pour','pas','vous'], t))) AS fr,
           len(list_filter(ts, t -> list_contains(['el','los','las','es','y','una','que','en','por','para','con','su'], t))) AS es,
           len(list_filter(ts, t -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','für','auf','ich'], t))) AS de
           FROM toks)
         SELECT doc_id, CASE
           WHEN en = 0 AND fr = 0 AND es = 0 AND de = 0 THEN 'und'
           WHEN en >= fr AND en >= es AND en >= de THEN 'en'
           WHEN fr >= es AND fr >= de THEN 'fr'
           WHEN es >= de THEN 'es'
           ELSE 'de' END AS lang_pred
         FROM h ORDER BY doc_id"""),
    QuerySpec("q_text_quality", qTextQuality,
      """SELECT doc_id,
         CAST(LENGTH(text) AS BIGINT) AS n_chars,
         CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT) AS n_words,
         CASE WHEN LENGTH(text) = 0 THEN 0.0 ELSE
           LEN(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE / LENGTH(text) END AS punct_ratio,
         CASE WHEN LENGTH(text) = 0 THEN 0.0 ELSE
           LEN(regexp_extract_all(text, '[0-9]'))::DOUBLE / LENGTH(text) END AS digit_ratio,
         CASE WHEN LEN(list_filter(regexp_split_to_array(LOWER(text), '\W+'), w -> LEN(w) > 0)) = 0 THEN 0.0 ELSE
           LEN(list_filter(list_filter(regexp_split_to_array(LOWER(text), '\W+'), w -> LEN(w) > 0),
               w -> w IN ('the','a','an','of','and','to','in','is','on','for','with','at','by','from','it','that','this','be','are','as')))::DOUBLE /
           LEN(list_filter(regexp_split_to_array(LOWER(text), '\W+'), w -> LEN(w) > 0)) END AS stopword_ratio
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q_token_count", qTokenCount,
      """SELECT doc_id,
         CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT) AS n_ws_tokens,
         CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q_fingerprint", qFingerprint,
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
           TRUE AS winnow_in_range, TRUE AS fp_injective
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q_pii_redact", qPiiRedact,
      """WITH raw AS (SELECT doc_id,
           substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR) ||
           '@mail.example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
           ' via https://site' || CAST(doc_id % 50 AS VARCHAR) ||
           '.example.org/u?id=' || CAST(doc_id AS VARCHAR) AS raw
           FROM documents)
         SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(raw,
           'https?://[^ \t\n\r]+', '[URL]', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS clean
         FROM raw ORDER BY doc_id"""),
    // C88: the plant, the 13-19-digit candidate extraction, the Luhn
    // mod-10 fold, and the fold-replace redaction all replayed.
    QuerySpec("q_pii_luhn", qPiiLuhn,
      """WITH raw AS (SELECT doc_id,
           CASE WHEN doc_id % 11 = 0 THEN
             text || ' acct 4' || lpad(CAST((doc_id * 7919 + 13) % 1000000000000000 AS VARCHAR), 15, '0')
                  || ' tx ' || lpad(CAST((doc_id * 104729 + 7) % 10000000000000 AS VARCHAR), 13, '0')
                  || ' ref ' || CAST(doc_id % 100000 AS VARCHAR)
           ELSE text END AS raw FROM documents),
         c AS (SELECT doc_id, raw,
           list_filter(regexp_extract_all(raw, '[0-9]+'),
             d -> len(d) BETWEEN 13 AND 19) AS cands FROM raw),
         v AS (SELECT doc_id, raw, cands,
           list_filter(cands, d -> list_sum(list_transform(range(1, length(d) + 1),
             i -> CASE WHEN (length(d) - i) % 2 = 1
               THEN CASE WHEN 2 * CAST(substr(d, CAST(i AS INT), 1) AS INT) > 9
                 THEN 2 * CAST(substr(d, CAST(i AS INT), 1) AS INT) - 9
                 ELSE 2 * CAST(substr(d, CAST(i AS INT), 1) AS INT) END
               ELSE CAST(substr(d, CAST(i AS INT), 1) AS INT) END)) % 10 = 0) AS valids
           FROM c)
         SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
           CAST(len(valids) AS BIGINT) AS n_valid,
           COALESCE(array_to_string(list_sort(valids), ','), '') AS valid_pans,
           list_reduce(list_prepend(raw, valids),
             (acc, p) -> replace(acc, p, '<PAN>')) AS redacted
         FROM v ORDER BY doc_id"""),
    QuerySpec("q_normalize_text", qNormalizeText,
      """WITH m AS (SELECT doc_id,
           upper(substr(text, 1, 40)) || '  ' || chr(9) ||
           regexp_replace(substr(text, 41, 40), 'a', 'a' || chr(769), 'g') ||
           ' caf' || chr(233) || ' ANGSTROM ' || chr(8491) || ' end ' AS messy
           FROM documents)
         SELECT doc_id,
           trim(regexp_replace(lower(nfc_normalize(messy)),
             '[ \t\n\x0b\f\r]+', ' ', 'g')) AS norm,
           trim(regexp_replace(lower(strip_accents(nfc_normalize(messy))),
             '[ \t\n\x0b\f\r]+', ' ', 'g')) AS norm_bare
         FROM m ORDER BY doc_id"""),
    QuerySpec("q_surprisal", qSurprisal,
      """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '')) AS w
           FROM documents),
         c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
         tot AS (SELECT length(bin(SUM(cnt))) AS bits_total FROM c)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(bits_total - length(bin(cnt))) AS BIGINT) AS surprisal_sum,
           CAST(SUM(bits_total - length(bin(cnt))) * 1000 // COUNT(*) AS BIGINT) AS surprisal_milli
         FROM toks JOIN c USING (w), tot
         GROUP BY doc_id ORDER BY doc_id"""),
    QuerySpec("q_domain_stats", qDomainStats,
      """WITH raw AS (SELECT doc_id,
           substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR) ||
           '@mail.example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
           ' via https://site' || CAST(doc_id % 50 AS VARCHAR) ||
           '.example.org/u?id=' || CAST(doc_id AS VARCHAR) AS raw
           FROM documents)
         SELECT regexp_extract(raw, 'https?://([^/ \t\n\r]+)', 1) AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS first_doc
         FROM raw GROUP BY domain ORDER BY domain"""),
    QuerySpec("q_decontaminate", qDecontaminate,
      """WITH toks AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), t -> t <> '') AS ts
           FROM documents),
         g AS (SELECT doc_id, array_to_string(ts[i : i + 3], ' ') AS gram
               FROM toks, UNNEST(range(1, len(ts) - 2)) AS u(i)),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         hits AS (SELECT t.doc_id, CAST(COUNT(DISTINCT t.gram) AS BIGINT) AS n_hit_grams
                  FROM (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 97 <> 0) t
                  JOIN bench USING (gram) GROUP BY t.doc_id)
         SELECT d.doc_id, COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
           COALESCE(h.n_hit_grams, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits h USING (doc_id)
         WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id"""),
    // C54: per-corpus-vector count of benchmark vectors within cosine
    // 0.35; the compare uses the identical cos*1000 >= 350 form as the
    // Spark side (C5b float-parity precedent)
    QuerySpec("q_decontaminate_semantic", qDecontaminateSemantic,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         bench AS (SELECT emb FROM e WHERE vec_id % 25 = 0),
         train AS (SELECT vec_id, emb FROM e WHERE vec_id % 25 <> 0),
         hits AS (SELECT t.vec_id, CAST(COUNT(*) AS BIGINT) AS n_bench_hits
           FROM train t JOIN bench b
             ON list_cosine_similarity(t.emb, b.emb) * 1000 >= 350
           GROUP BY 1)
         SELECT t.vec_id, COALESCE(h.n_bench_hits, 0) AS n_bench_hits,
           COALESCE(h.n_bench_hits, 0) > 0 AS contaminated
         FROM train t LEFT JOIN hits h USING (vec_id) ORDER BY vec_id"""),
    // same oracle as q_decontaminate: the bloom pre-filter must be
    // output-invisible (false positives die in the exact confirm join)
    QuerySpec("q_decontaminate_bloom", qDecontaminateBloom,
      """WITH toks AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), t -> t <> '') AS ts
           FROM documents),
         g AS (SELECT doc_id, array_to_string(ts[i : i + 3], ' ') AS gram
               FROM toks, UNNEST(range(1, len(ts) - 2)) AS u(i)),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         hits AS (SELECT t.doc_id, CAST(COUNT(DISTINCT t.gram) AS BIGINT) AS n_hit_grams
                  FROM (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 97 <> 0) t
                  JOIN bench USING (gram) GROUP BY t.doc_id)
         SELECT d.doc_id, COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
           COALESCE(h.n_hit_grams, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits h USING (doc_id)
         WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id"""),
    // span replay: 1-based gram start i covers tokens i..i+3; kept
    // tokens rebuild in order; untouched docs keep their RAW text
    QuerySpec("q_decontaminate_spans", qDecontaminateSpans,
      """WITH tr AS (SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), t -> t <> '') AS ts
           FROM documents WHERE doc_id % 97 <> 0),
         be AS (SELECT list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), t -> t <> '') AS ts
           FROM documents WHERE doc_id % 97 = 0),
         bg AS (SELECT DISTINCT array_to_string(ts[i : i + 3], ' ') AS gram
           FROM be, UNNEST(range(1, len(ts) - 2)) AS u(i)),
         hits AS (SELECT t.doc_id, u.i FROM tr t, UNNEST(range(1, len(ts) - 2)) AS u(i)
           WHERE array_to_string(ts[i : i + 3], ' ') IN (SELECT gram FROM bg)),
         cov AS (SELECT DISTINCT doc_id, i + j AS k FROM hits, UNNEST(range(0, 4)) AS v(j)),
         kept AS (SELECT t.doc_id, string_agg(t.ts[u.k], ' ' ORDER BY u.k) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
           FROM tr t, UNNEST(range(1, len(ts) + 1)) AS u(k)
           WHERE t.doc_id IN (SELECT doc_id FROM hits)
             AND NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.k = u.k)
           GROUP BY t.doc_id)
         SELECT t.doc_id,
           CASE WHEN t.doc_id IN (SELECT doc_id FROM hits)
                THEN COALESCE(k.clean_text, '') ELSE t.text END AS clean_text,
           CAST(CASE WHEN t.doc_id IN (SELECT doc_id FROM hits)
                THEN len(t.ts) - COALESCE(k.n_kept, 0) ELSE 0 END AS BIGINT) AS n_removed
         FROM tr t LEFT JOIN kept k USING (doc_id) ORDER BY t.doc_id"""),
    QuerySpec("q_dup_spans", qDupSpans,
      """WITH d AS (SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), t -> t <> '') AS ts
           FROM documents),
         g AS (SELECT doc_id, i, array_to_string(ts[i : i + 4], ' ') AS gram
           FROM d, UNNEST(range(1, len(ts) - 3)) AS u(i)),
         hot AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
         occ AS (SELECT g.*, row_number() OVER (
             PARTITION BY gram ORDER BY doc_id, i) AS rn
           FROM g WHERE gram IN (SELECT gram FROM hot)),
         cov AS (SELECT DISTINCT doc_id, i + j AS k
           FROM occ, UNNEST(range(0, 5)) AS v(j) WHERE rn > 1),
         kept AS (SELECT t.doc_id, string_agg(t.ts[u.k], ' ' ORDER BY u.k) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
           FROM d t, UNNEST(range(1, len(ts) + 1)) AS u(k)
           WHERE t.doc_id IN (SELECT doc_id FROM cov)
             AND NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.k = u.k)
           GROUP BY t.doc_id)
         SELECT t.doc_id,
           CASE WHEN t.doc_id IN (SELECT doc_id FROM cov)
                THEN COALESCE(k.clean_text, '') ELSE t.text END AS clean_text,
           CAST(CASE WHEN t.doc_id IN (SELECT doc_id FROM cov)
                THEN len(t.ts) - COALESCE(k.n_kept, 0) ELSE 0 END AS BIGINT) AS n_removed
         FROM d t LEFT JOIN kept k USING (doc_id) ORDER BY t.doc_id"""),
    QuerySpec("q_quota_sample", qQuotaSample,
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang, row_number() OVER (
             PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         WHERE rn <= 30 ORDER BY lang, doc_id"""),
    QuerySpec("q_pack_sequences", qPackSequences,
      """WITH t AS (SELECT source, doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), x -> x <> '')) AS BIGINT) AS n_tok
           FROM documents),
         c AS (SELECT *, COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev FROM t)
         SELECT source, doc_id, n_tok, CAST(prev // 512 AS BIGINT) AS chunk_id,
           CAST(prev % 512 AS BIGINT) AS chunk_off
         FROM c ORDER BY source, doc_id"""),
    QuerySpec("q_pack_materialize", qPackMaterialize,
      """WITH t AS (SELECT source, doc_id, text,
           CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), x -> x <> '')) AS BIGINT) AS n_tok
           FROM documents),
         c AS (SELECT *, COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS chunk_id FROM t)
         SELECT source, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS chunk_tok,
           md5(string_agg(text, ' ' ORDER BY doc_id)) AS text_md5
         FROM c GROUP BY 1, 2 ORDER BY source, chunk_id"""),
    QuerySpec("q_tfidf", qTfidf,
      """WITH toks AS (SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), t -> t <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
         scored AS (SELECT doc_id, term, CAST(tf.tf * n.n AS DOUBLE) / df.df AS score
                    FROM tf JOIN df USING (term) CROSS JOIN n),
         ranked AS (SELECT *, CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rnk FROM scored)
         SELECT doc_id, rnk, term, score FROM ranked WHERE rnk <= 3
         ORDER BY doc_id, rnk"""),
    QuerySpec("q_bm25", qBm25,
      """WITH toks AS (SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), t -> t <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(dl) AS BIGINT) AS s FROM dl),
         sc AS (SELECT tf.doc_id, tf.term,
             (CAST(1000000 AS HUGEINT) * (2 * g.n - 2 * df.df + 1) * 22 * tf.tf * g.s)
               // ((2 * df.df + 1) * (CAST(10 AS HUGEINT) * g.s * tf.tf + 3 * g.s + 9 * dl.dl * g.n))
               AS score_ppm
           FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN g)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(score_ppm) AS BIGINT) AS score_ppm
         FROM sc WHERE term IN ('vector', 'stream', 'window')
         GROUP BY doc_id ORDER BY score_ppm DESC, doc_id LIMIT 10"""),
    QuerySpec("q_length_hist", qLengthHist,
      """SELECT LEAST(n_chars // 200, 9) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
         FROM documents GROUP BY 1 ORDER BY bucket"""),
    QuerySpec("q_source_quality", qSourceQuality,
      """WITH d AS (SELECT source, CAST(LENGTH(text) AS BIGINT) AS chars,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\r]')) AS BIGINT) AS punct,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digits,
           CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), t -> t <> '')) AS BIGINT) AS toks
           FROM documents)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(chars) AS BIGINT) AS sum_chars,
           CAST(SUM(punct) * 1000000 // SUM(chars) AS BIGINT) AS punct_ppm,
           CAST(SUM(digits) * 1000000 // SUM(chars) AS BIGINT) AS digit_ppm,
           CAST(SUM(toks) * 1000 // COUNT(*) AS BIGINT) AS toks_per_kdoc
         FROM d GROUP BY source ORDER BY source"""),
    // C56: per-doc fraction of distinct shingles first seen in an
    // earlier doc — string-space replay of the hash-space pipeline;
    // x div 0 is NULL in both engines (shingle-less docs)
    QuerySpec("q_novelty", qNovelty,
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(translate(COALESCE(text, ''), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
           FROM documents),
         g AS (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS gram
               FROM toks, UNNEST(range(1, len(ts) - 1)) AS u(i)),
         fst AS (SELECT gram, MIN(doc_id) AS first_id FROM g GROUP BY 1),
         per AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN fst.first_id < g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
           FROM g JOIN fst USING (gram) GROUP BY 1)
         SELECT d.doc_id, COALESCE(p.n_grams, 0) AS n_grams,
           COALESCE(p.n_seen, 0) AS n_seen,
           CAST(COALESCE(p.n_seen, 0) * 1000000 // COALESCE(p.n_grams, 0) AS BIGINT) AS seen_ppm
         FROM documents d LEFT JOIN per p USING (doc_id)
         ORDER BY d.doc_id"""),
    QuerySpec("q_repetition", qRepetition,
      """WITH d AS (SELECT source,
           list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), x -> x <> '') AS t
           FROM documents),
         g AS (SELECT source,
           CAST(len(t) AS BIGINT) AS n_tok,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_utok,
           CAST(greatest(len(t) - 1, 0) AS BIGINT) AS n_2g,
           CAST(len(list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS BIGINT) AS n_u2g
           FROM d)
         SELECT source, CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
           CAST(SUM(n_utok) * 1000000 // SUM(n_tok) AS BIGINT) AS uniq_tok_ppm,
           CAST(SUM(n_u2g) * 1000000 // SUM(n_2g) AS BIGINT) AS uniq_2g_ppm
         FROM g GROUP BY source ORDER BY source"""),
    // C89: every doc's three top-n-gram char ppms (count × gram chars
    // × 1e6 // text chars, lex-smallest gram on count ties) and the
    // Gopher verdict recomputed from the raw text.
    QuerySpec("q_gopher_filter", qGopherFilter,
      """WITH raw AS (SELECT doc_id, source,
           CASE WHEN doc_id % 9 = 0 THEN text || repeat(' buy cheap now', 12)
             ELSE text END AS raw FROM documents),
         toks AS MATERIALIZED (SELECT doc_id, source, length(raw) AS nc,
           list_filter(string_split_regex(raw, '[ \t\n\r]+'), t -> t <> '') AS ts
           FROM raw),
         g2 AS (SELECT doc_id, nc,
             array_to_string(list_slice(ts, CAST(u.i AS INT), CAST(u.i AS INT) + 1), ' ') AS gram
           FROM toks, UNNEST(range(1, len(ts))) AS u(i)),
         g3 AS (SELECT doc_id, nc,
             array_to_string(list_slice(ts, CAST(u.i AS INT), CAST(u.i AS INT) + 2), ' ') AS gram
           FROM toks, UNNEST(range(1, len(ts) - 1)) AS u(i)),
         g4 AS (SELECT doc_id, nc,
             array_to_string(list_slice(ts, CAST(u.i AS INT), CAST(u.i AS INT) + 3), ' ') AS gram
           FROM toks, UNNEST(range(1, len(ts) - 2)) AS u(i)),
         c2 AS (SELECT doc_id, nc, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2, 3),
         c3 AS (SELECT doc_id, nc, gram, COUNT(*) AS c FROM g3 GROUP BY 1, 2, 3),
         c4 AS (SELECT doc_id, nc, gram, COUNT(*) AS c FROM g4 GROUP BY 1, 2, 3),
         b2 AS (SELECT doc_id, CAST(c * length(gram) * 1000000 // nc AS BIGINT) AS ppm FROM c2
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) = 1),
         b3 AS (SELECT doc_id, CAST(c * length(gram) * 1000000 // nc AS BIGINT) AS ppm FROM c3
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) = 1),
         b4 AS (SELECT doc_id, CAST(c * length(gram) * 1000000 // nc AS BIGINT) AS ppm FROM c4
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) = 1)
         SELECT r.doc_id, r.source,
           COALESCE(b2.ppm, 0) AS top2_ppm,
           COALESCE(b3.ppm, 0) AS top3_ppm,
           COALESCE(b4.ppm, 0) AS top4_ppm,
           (COALESCE(b2.ppm, 0) <= 200000 AND COALESCE(b3.ppm, 0) <= 180000
             AND COALESCE(b4.ppm, 0) <= 160000) AS pass
         FROM raw r LEFT JOIN b2 USING (doc_id) LEFT JOIN b3 USING (doc_id)
           LEFT JOIN b4 USING (doc_id)
         ORDER BY doc_id"""),
    // C90: tokenizer, FNV-1a, 2^16 bucketing, the mix64 seeded weight,
    // and the occurrence-weighted per-doc score replayed set-wise
    // (weights per DISTINCT bucket), then verdict + per-source rollup.
    QuerySpec("q_quality_classifier", qQualityClassifier,
      ("""WITH reps AS MATERIALIZED (SELECT doc_id AS rep_id, text FROM documents),
         """ + sqlTokenCtes + """
         occ AS MATERIALIZED (SELECT t.rep_id,
             CAST(CAST(d.th AS UBIGINT) % 65536 AS HUGEINT) AS b
           FROM tocc t JOIN dh d USING (tok)),
         bk AS (SELECT DISTINCT b FROM occ),
         bm AS MATERIALIZED (SELECT b, """ +
        sqlMixCols(sqlXor64("b", "1442695040888963407"), "m") + """
           FROM bk),
         bw AS (SELECT b, CAST(mo % 2001 - 1000 AS BIGINT) AS w FROM bm),
         sc AS (SELECT r.rep_id, CAST(COALESCE(SUM(x.w), 0) AS BIGINT) AS score
           FROM reps r LEFT JOIN (SELECT o.rep_id, bw.w FROM occ o JOIN bw USING (b)) x
             ON r.rep_id = x.rep_id GROUP BY 1)
         SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s.score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(SUM(s.score) AS BIGINT) AS sum_score,
           CAST(MIN(s.score) AS BIGINT) AS min_score,
           CAST(MAX(s.score) AS BIGINT) AS max_score
         FROM documents d JOIN sc s ON d.doc_id = s.rep_id
         GROUP BY d.source ORDER BY d.source""")),
    QuerySpec("q_hash_split", qHashSplit,
      """WITH d AS (SELECT source,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
           FROM documents),
         s AS (SELECT source, bucket,
           CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
           FROM d)
         SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(bucket) AS BIGINT) AS min_bucket, CAST(MAX(bucket) AS BIGINT) AS max_bucket
         FROM s GROUP BY 1 ORDER BY 1"""),
    // C55: the C14b closure plus the C24 md5-bucket arithmetic on the
    // CLUSTER id — split is a pure function of cluster, so near-dups
    // cannot straddle train/test by construction
    QuerySpec("q_leakage_split", qLeakageSplit,
      """WITH RECURSIVE edges AS MATERIALIZED (
           -- inverted-index overlap counting: candidate pairs share >= 1
           -- word-3-gram, their exact intersection is COUNTED by one
           -- parallel join+aggregate (no per-pair list ops), and
           -- Jaccard >= 0.8 is the exact integer predicate
           -- 9*o >= 4*(|A|+|B|)  <=>  o/(|A|+|B|-o) >= 4/5. Only tiny
           -- relations may be NAMED in this RECURSIVE with-list: DuckDB
           -- materializes every CTE of a recursive clause and scans it
           -- single-threaded, so the heavy pipeline stays inline as
           -- derived tables (sf1: 450s -> 15s).
           SELECT CASE WHEN d.i = 0 THEN p.u ELSE p.v END AS u,
                  CASE WHEN d.i = 0 THEN p.v ELSE p.u END AS v
           FROM (
             SELECT ov.u, ov.v FROM (
               SELECT b.doc_id AS u, a.doc_id AS v, COUNT(*) AS o
               FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) a
               JOIN (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) b
                 ON a.s = b.s AND b.doc_id < a.doc_id
               GROUP BY 1, 2) ov
             JOIN (SELECT doc_id, COUNT(*) AS n FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) ga GROUP BY doc_id) sa
               ON sa.doc_id = ov.u
             JOIN (SELECT doc_id, COUNT(*) AS n FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) gb GROUP BY doc_id) sb
               ON sb.doc_id = ov.v
             WHERE 9 * ov.o >= 4 * (sa.n + sb.n)) p
           CROSS JOIN (VALUES (0), (1)) d(i)),
         reach(src, dst) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.src, e2.v FROM reach r JOIN edges e2 ON r.dst = e2.u),
         comp AS (SELECT src AS node, LEAST(src, MIN(dst)) AS cluster FROM reach GROUP BY src),
         assigned AS (SELECT d.doc_id,
             CAST(COALESCE(c.cluster, d.doc_id) AS BIGINT) AS cluster_id
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
         b AS (SELECT *,
             CAST(concat('0x', substr(md5(concat('lsplit:', CAST(cluster_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 AS bucket
           FROM assigned)
         SELECT doc_id, cluster_id, bucket,
           CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
             ELSE 'test' END AS split
         FROM b ORDER BY doc_id"""),
    // the whole card replayed: whitespace token counts (C10), md5
    // exact-dup ppm, the langId CASE (C8) summarized by the B85
    // min-tie-break mode, and the lower-median via cumulative counts.
    QuerySpec("q_dataset_card", qDatasetCard,
      """WITH d AS (SELECT source, COALESCE(text, '') AS text FROM documents),
         per AS (SELECT source,
             CAST(len(list_filter(string_split_regex(text, '[ \t\n\r]+'),
               t -> t <> '')) AS BIGINT) AS toks,
             md5(text) AS h,
             length(text) AS chars,
             list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
               t -> t <> '') AS ts
           FROM d),
         lang AS (SELECT source, toks, h, chars, CASE
             WHEN en = 0 AND fr = 0 AND es = 0 AND de = 0 THEN 'und'
             WHEN en >= fr AND en >= es AND en >= de THEN 'en'
             WHEN fr >= es AND fr >= de THEN 'fr'
             WHEN es >= de THEN 'es' ELSE 'de' END AS lang
           FROM (SELECT source, toks, h, chars,
             len(list_filter(ts, t -> list_contains(['the','and','of','to','is','in','that','it','with','for','this','are'], t))) AS en,
             len(list_filter(ts, t -> list_contains(['le','la','les','des','est','et','une','dans','que','pour','pas','vous'], t))) AS fr,
             len(list_filter(ts, t -> list_contains(['el','los','las','es','y','una','que','en','por','para','con','su'], t))) AS es,
             len(list_filter(ts, t -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','für','auf','ich'], t))) AS de
             FROM per)),
         base AS (SELECT source, COUNT(*) AS n_docs, SUM(toks) AS n_tokens,
             COUNT(DISTINCT h) AS n_distinct FROM lang GROUP BY 1),
         lc AS (SELECT source, lang, COUNT(*) AS cnt FROM lang GROUP BY 1, 2),
         lt AS (SELECT source, MAX(cnt) AS mode_count FROM lc GROUP BY 1),
         lm AS (SELECT lc.source, MIN(lc.lang) AS top_lang, lt.mode_count
           FROM lc JOIN lt ON lc.source = lt.source AND lc.cnt = lt.mode_count
           GROUP BY 1, 3),
         cc AS (SELECT source, chars, COUNT(*) AS c FROM lang GROUP BY 1, 2),
         cw AS (SELECT source, chars,
             SUM(c) OVER (PARTITION BY source ORDER BY chars) AS cum,
             SUM(c) OVER (PARTITION BY source) AS tot FROM cc),
         med AS (SELECT source, MIN(chars) AS median_chars FROM cw
           WHERE cum * 2 >= tot GROUP BY 1)
         SELECT base.source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((n_docs - n_distinct) * 1000000 // n_docs AS BIGINT) AS dup_ppm,
           top_lang,
           CAST(mode_count * 1000000 // n_docs AS BIGINT) AS top_lang_ppm,
           CAST(median_chars AS BIGINT) AS median_chars
         FROM base JOIN lm ON base.source = lm.source
         JOIN med ON base.source = med.source
         ORDER BY base.source"""),
    // floor(sqrt()) is exact integer isqrt in BOTH engines (IEEE sqrt
    // is correctly rounded); everything else is integer ppm.
    QuerySpec("q_mixture_temperature", qMixtureTemperature,
      """WITH toks AS (SELECT source,
             CAST(len(list_filter(string_split_regex(COALESCE(text, ''),
               '[ \t\n\r]+'), t -> t <> '')) AS BIGINT) AS toks
           FROM documents),
         per AS (SELECT source, SUM(toks) AS n_tokens FROM toks GROUP BY 1),
         w AS (SELECT source, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
           FROM per),
         tot AS (SELECT SUM(n_tokens) AS tt, SUM(weight) AS tw FROM w)
         SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(weight AS BIGINT) AS weight,
           CAST(n_tokens * 1000000 // tt AS BIGINT) AS prop_share_ppm,
           CAST(weight * 1000000 // tw AS BIGINT) AS temp_share_ppm,
           CAST(750000 * (weight * 1000000 // tw) // 1000000 AS BIGINT)
             AS planned_tokens,
           CAST(weight * 1000000 // tw - n_tokens * 1000000 // tt AS BIGINT)
             AS boost_ppm
         FROM w, tot ORDER BY source"""),
    // chunking + the BM25 closed form + per-query top-5, replayed over
    // the CHUNK corpus with the same chunk-id arithmetic.
    QuerySpec("q_rag_topk", qRagTopk,
      """WITH toks0 AS (SELECT doc_id,
             list_filter(string_split_regex(COALESCE(text, ''), '[ \t\n\r]+'),
               t -> t <> '') AS ts
           FROM documents),
         chunk AS (SELECT doc_id * 1000 + CAST(p / 48 AS BIGINT) AS chunk_id,
             ts[p + 1 : p + 64] AS cts
           FROM toks0, UNNEST(range(0, len(ts), 48)) AS u(p)),
         tfr AS (SELECT chunk_id, unnest(cts) AS term FROM chunk),
         tf AS (SELECT chunk_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tfr GROUP BY 1, 2),
         dl AS (SELECT chunk_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS BIGINT) AS s FROM dl),
         sc AS (SELECT tf.chunk_id, tf.term,
             (CAST(1000000 AS HUGEINT) * (2 * g.n - 2 * df.df + 1) * 22 * tf.tf * g.s)
               // ((2 * df.df + 1) * (CAST(10 AS HUGEINT) * g.s * tf.tf + 3 * g.s + 9 * dl.dl * g.n))
               AS score_ppm
           FROM tf JOIN dl USING (chunk_id) JOIN df USING (term) CROSS JOIN g),
         q1 AS (SELECT 'q_vector' AS query, chunk_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(score_ppm) AS BIGINT) AS score_ppm
           FROM sc WHERE term IN ('vector', 'stream', 'window')
           GROUP BY 2 ORDER BY score_ppm DESC, chunk_id LIMIT 5),
         q2 AS (SELECT 'q_join' AS query, chunk_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(score_ppm) AS BIGINT) AS score_ppm
           FROM sc WHERE term IN ('join', 'merge', 'batch')
           GROUP BY 2 ORDER BY score_ppm DESC, chunk_id LIMIT 5),
         q3 AS (SELECT 'q_cust' AS query, chunk_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(score_ppm) AS BIGINT) AS score_ppm
           FROM sc WHERE term IN ('customer', 'order', 'line')
           GROUP BY 2 ORDER BY score_ppm DESC, chunk_id LIMIT 5)
         SELECT * FROM (SELECT * FROM q1 UNION ALL SELECT * FROM q2
           UNION ALL SELECT * FROM q3)
         ORDER BY query, score_ppm DESC, chunk_id"""),
    // full integer replay of the JL sketch: the md5-parity sign matrix,
    // the micro-unit quantization, every projected coordinate, and the
    // norm-preservation ratio — bit-for-bit.
    QuerySpec("q_jl_project", qJlProject,
      """WITH q AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
           FROM embeddings),
         p AS (SELECT vec_id, q,
             list_transform(range(0, 16), i ->
               list_sum(list_transform(range(1, len(q) + 1), j ->
                 (CASE WHEN CAST(concat('0x',
                     substr(md5(concat('jl_', i, '_', j - 1)), 1, 8)) AS BIGINT)
                     % 2 = 0
                   THEN 1 ELSE -1 END) * q[j]))) AS proj
           FROM q)
         SELECT vec_id,
           array_to_string(proj, ',') AS proj,
           CAST((list_sum(list_transform(proj, x -> x * x)) * 1000000)
             // (16 * list_sum(list_transform(q, x -> x * x))) AS BIGINT)
             AS norm_ratio_ppm
         FROM p ORDER BY vec_id"""),
    // every rule replayed as substring probes; labels list, priority
    // pick, and count rebuilt from the same booleans.
    QuerySpec("q_weak_label", qWeakLabel,
      """WITH m AS (SELECT doc_id, lower(coalesce(text, '')) AS tx FROM documents),
         r AS (SELECT doc_id,
             (instr(tx, 'join') > 0 OR instr(tx, 'agg') > 0
               OR instr(tx, 'group') > 0) AS l_sql,
             (instr(tx, 'fast') > 0 OR instr(tx, 'slow') > 0) AS l_perf,
             (instr(tx, 'row') > 0 OR instr(tx, 'column') > 0
               OR instr(tx, 'table') > 0) AS l_storage,
             (instr(tx, 'stream') > 0 OR instr(tx, 'batch') > 0
               OR instr(tx, 'window') > 0) AS l_stream
           FROM m)
         SELECT doc_id,
           array_to_string(list_filter([
             CASE WHEN l_sql THEN 'sql' END,
             CASE WHEN l_perf THEN 'perf' END,
             CASE WHEN l_storage THEN 'storage' END,
             CASE WHEN l_stream THEN 'stream' END], x -> x IS NOT NULL), ',')
             AS labels,
           COALESCE(CASE WHEN l_sql THEN 'sql' END,
             CASE WHEN l_perf THEN 'perf' END,
             CASE WHEN l_storage THEN 'storage' END,
             CASE WHEN l_stream THEN 'stream' END, 'unlabeled') AS primary_label,
           CAST(l_sql::INT + l_perf::INT + l_storage::INT + l_stream::INT
             AS BIGINT) AS n_labels
         FROM r ORDER BY doc_id"""),
    // C57: the planning arithmetic replayed over the same
    // whitespace-token counts; all integer ppm
    QuerySpec("q_token_budget", qTokenBudget,
      """WITH toks AS (SELECT source,
           CAST(len(list_filter(string_split_regex(COALESCE(text, ''), '[ \t\n\r]+'), t -> t <> '')) AS BIGINT) AS n_toks
           FROM documents),
         per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens FROM toks GROUP BY 1),
         w AS (SELECT *, CAST(CASE WHEN source IN ('src1', 'src2')
             THEN 150000 ELSE 700000 // 18 END AS BIGINT) AS weight_ppm FROM per),
         r AS (SELECT *, LEAST(1000000, 100000 * weight_ppm // n_tokens) AS rate_ppm FROM w)
         SELECT source, n_docs, n_tokens, weight_ppm,
           CAST(rate_ppm AS BIGINT) AS rate_ppm,
           CAST(n_tokens * rate_ppm // 1000000 AS BIGINT) AS expected_tokens,
           rate_ppm = 1000000 AS under_supplied
         FROM r ORDER BY source"""),
    // progressive filling replayed: capped set = prefix of the
    // cap-ascending order, boundary = first exact-product failure,
    // uncapped split = base + deterministic unit-remainder spread.
    QuerySpec("q_fair_allocation", qFairAllocation,
      """WITH toks AS (SELECT source,
             CAST(len(list_filter(string_split_regex(COALESCE(text, ''),
               '[ \t\n\r]+'), t -> t <> '')) AS BIGINT) AS toks
           FROM documents),
         per AS (SELECT source, COUNT(*) AS n_docs, SUM(toks) AS n_tokens
           FROM toks GROUP BY 1),
         tiers AS (SELECT per.*,
             CASE WHEN n_tokens * tot_docs < tot_tokens * n_docs
                  THEN 1 ELSE 3 END AS epochs,
             CASE WHEN n_tokens * tot_docs < tot_tokens * n_docs
                  THEN n_tokens ELSE 3 * n_tokens END AS cap
           FROM per, (SELECT SUM(n_docs) AS tot_docs,
               SUM(n_tokens) AS tot_tokens FROM per)),
         b AS (SELECT 3 * SUM(n_tokens) // 2 AS budget,
             COUNT(*) AS m FROM per),
         r AS (SELECT tiers.*, budget, m,
             ROW_NUMBER() OVER (ORDER BY cap, source) AS i,
             COALESCE(SUM(cap) OVER (ORDER BY cap, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev
           FROM tiers, b),
         f AS (SELECT *, cap * (m - i + 1) > budget - cumprev AS fail FROM r),
         ff AS (SELECT MIN(CASE WHEN fail THEN i END) AS ffi FROM f),
         c2 AS (SELECT f.*, (ffi IS NULL OR i < ffi) AS capped, ffi
           FROM f, ff),
         lv AS (SELECT SUM(CASE WHEN capped THEN cap ELSE 0 END) AS granted,
             SUM(CASE WHEN capped THEN 0 ELSE 1 END) AS u FROM c2)
         SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(epochs AS BIGINT) AS epochs,
           CAST(cap AS BIGINT) AS cap_tokens,
           CAST(CASE WHEN capped THEN cap
             ELSE (budget - granted) // u
               + (CASE WHEN i - ffi + 1 <= (budget - granted) % u
                  THEN 1 ELSE 0 END) END AS BIGINT) AS allocated_tokens,
           capped,
           CAST(CASE WHEN u > 0 THEN (budget - granted) // u END AS BIGINT)
             AS fill_level
         FROM c2, lv ORDER BY source"""),
    // the full allocation replayed (q_fair_allocation's SQL) plus the
    // md5-prefix partial epoch and the reconciliation arithmetic.
    QuerySpec("q_budget_materialize", qBudgetMaterialize,
      """WITH toks AS (SELECT source, doc_id,
             CAST(len(list_filter(string_split_regex(COALESCE(text, ''),
               '[ 	

]+'), t -> t <> '')) AS BIGINT) AS toks
           FROM documents),
         per AS (SELECT source, COUNT(*) AS n_docs, SUM(toks) AS n_tokens
           FROM toks GROUP BY 1),
         tiers AS (SELECT per.*,
             CASE WHEN n_tokens * tot_docs < tot_tokens * n_docs
                  THEN n_tokens ELSE 3 * n_tokens END AS cap
           FROM per, (SELECT SUM(n_docs) AS tot_docs,
               SUM(n_tokens) AS tot_tokens FROM per)),
         b AS (SELECT 3 * SUM(n_tokens) // 2 AS budget,
             COUNT(*) AS m FROM per),
         r AS (SELECT tiers.*, budget, m,
             ROW_NUMBER() OVER (ORDER BY cap, source) AS i,
             COALESCE(SUM(cap) OVER (ORDER BY cap, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev
           FROM tiers, b),
         f AS (SELECT *, cap * (m - i + 1) > budget - cumprev AS fail FROM r),
         ff AS (SELECT MIN(CASE WHEN fail THEN i END) AS ffi FROM f),
         c2 AS (SELECT f.*, (ffi IS NULL OR i < ffi) AS capped, ffi
           FROM f, ff),
         lv AS (SELECT SUM(CASE WHEN capped THEN cap ELSE 0 END) AS granted,
             SUM(CASE WHEN capped THEN 0 ELSE 1 END) AS u FROM c2),
         alloc AS (SELECT source, n_tokens,
             CASE WHEN capped THEN cap
               ELSE (budget - granted) // u
                 + (CASE WHEN i - ffi + 1 <= (budget - granted) % u
                    THEN 1 ELSE 0 END) END AS a
           FROM c2, lv),
         cum AS (SELECT t.source, t.doc_id, t.toks, a.a, a.n_tokens,
             SUM(t.toks) OVER (PARTITION BY t.source
               ORDER BY md5(CAST(t.doc_id AS VARCHAR)), t.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM toks t JOIN alloc a USING (source)),
         cp AS (SELECT source, doc_id, toks,
             a // n_tokens
               + (CASE WHEN cum <= a % n_tokens THEN 1 ELSE 0 END) AS copies,
             a
           FROM cum)
         SELECT source, CAST(MAX(a) AS BIGINT) AS allocated_tokens,
           CAST(SUM(CASE WHEN copies > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_used,
           CAST(MAX(copies) AS BIGINT) AS max_copies,
           CAST(SUM(copies * toks) AS BIGINT) AS materialized_tokens,
           CAST(MAX(a) - SUM(copies * toks) AS BIGINT) AS undershoot
         FROM cp GROUP BY source ORDER BY source"""),
    // group lcp = lcp(min, max) — the lexicographic-bounds identity —
    // recomputed in DuckDB by monotone prefix counting.
    QuerySpec("q_prefix_sharing", qPrefixSharing,
      """WITH g AS (SELECT substr(text, 1, 8) AS bucket, COUNT(*) AS n_docs,
             MIN(text) AS mn, MAX(text) AS mx,
             SUM(length(text)) AS total_chars
           FROM documents GROUP BY 1 HAVING COUNT(*) >= 2),
         l AS (SELECT bucket, n_docs, total_chars,
             (SELECT COUNT(*) FROM UNNEST(range(1,
                  LEAST(length(mn), length(mx)) + 1)) AS u(i)
               WHERE substr(mn, 1, CAST(i AS INTEGER))
                   = substr(mx, 1, CAST(i AS INTEGER))) AS lcp
           FROM g)
         SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_chars AS BIGINT) AS total_chars,
           CAST(lcp AS BIGINT) AS lcp_chars,
           CAST(lcp * (n_docs - 1) AS BIGINT) AS saved_chars
         FROM l ORDER BY bucket"""),
    // the C67 chunk derivation (closed-definition window hashes) plus
    // the distinct (source, hash) set, pair join, and ppm replayed;
    // zero-sharing pairs present.
    QuerySpec("q_passage_overlap", qPassageOverlap,
      """WITH RECURSIVE pw(j, p) AS (
             SELECT 0, CAST(1 AS BIGINT)
             UNION ALL
             SELECT j + 1, p * 257 % 1000000007 FROM pw WHERE j < 15),
         d AS (SELECT doc_id, source, text, length(text) AS n FROM documents),
         pos AS (SELECT doc_id, text, n, g.q
           FROM d, UNNEST(range(1, n - 16 + 2)) AS g(q)),
         hw AS (SELECT doc_id, n, q,
             SUM(unicode(substr(text, CAST(q + o.o AS INTEGER), 1)) * pw.p)
               % 1000000007 AS hh
           FROM pos, UNNEST(range(0, 16)) AS o(o), pw
           WHERE pw.j = 15 - o.o
           GROUP BY doc_id, n, q),
         cuts AS (SELECT doc_id, q + 15 AS b FROM hw
           WHERE hh % 32 = 9 AND q + 15 < n),
         bounds AS (SELECT doc_id, b FROM cuts
           UNION ALL SELECT doc_id, n FROM d),
         ch AS (SELECT doc_id,
             COALESCE(LAG(b) OVER (PARTITION BY doc_id ORDER BY b), 0) AS st,
             b AS en FROM bounds),
         sh AS (SELECT DISTINCT d.source, md5(substr(d.text,
               CAST(c.st + 1 AS INTEGER), CAST(c.en - c.st AS INTEGER))) AS h
           FROM ch c JOIN d ON c.doc_id = d.doc_id),
         per AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
         pr AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS shared
           FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
         SELECT pa.source AS source_a, pb.source AS source_b,
           CAST(pa.n AS BIGINT) AS na, CAST(pb.n AS BIGINT) AS nb,
           CAST(COALESCE(shared, 0) AS BIGINT) AS shared_chunks,
           CAST(COALESCE(shared, 0) * 1000000 // LEAST(pa.n, pb.n) AS BIGINT)
             AS containment_ppm
         FROM per pa JOIN per pb ON pa.source < pb.source
         LEFT JOIN pr ON pa.source = pr.sa AND pb.source = pr.sb
         ORDER BY source_a, source_b"""),
    // tokenizer + term join + severity rollup + zero-retaining left
    // join replayed; flagged is the same integer threshold.
    QuerySpec("q_blocklist", qBlocklist,
      """WITH terms(term, severity) AS (VALUES ('dup', 5), ('slow', 2), ('big', 1)),
         tok AS (SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
           FROM documents),
         h AS (SELECT doc_id, COUNT(DISTINCT term) AS nt, COUNT(*) AS nh,
             SUM(severity) AS wh, MAX(severity) AS ms
           FROM tok JOIN terms ON w = term GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(COALESCE(nt, 0) AS BIGINT) AS n_flag_terms,
           CAST(COALESCE(nh, 0) AS BIGINT) AS n_flag_hits,
           CAST(COALESCE(wh, 0) AS BIGINT) AS weighted_hits,
           CAST(COALESCE(ms, 0) AS BIGINT) AS max_severity,
           COALESCE(wh, 0) >= 8 AS flagged
         FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
         ORDER BY d.doc_id"""),
    // the SAME polynomial window hash recomputed from the closed
    // definition (recursive-CTE powers + windowed character sums —
    // not the rolling update), then chunking, md5s, sharing replayed.
    QuerySpec("q_chunk_dedup", qChunkDedup,
      """WITH RECURSIVE pw(j, p) AS (
             SELECT 0, CAST(1 AS BIGINT)
             UNION ALL
             SELECT j + 1, p * 257 % 1000000007 FROM pw WHERE j < 15),
         d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         pos AS (SELECT doc_id, text, n, g.q
           FROM d, UNNEST(range(1, n - 16 + 2)) AS g(q)),
         hw AS (SELECT doc_id, n, q,
             SUM(unicode(substr(text, CAST(q + o.o AS INTEGER), 1)) * pw.p)
               % 1000000007 AS hh
           FROM pos, UNNEST(range(0, 16)) AS o(o), pw
           WHERE pw.j = 15 - o.o
           GROUP BY doc_id, n, q),
         cuts AS (SELECT doc_id, q + 15 AS b FROM hw
           WHERE hh % 32 = 9 AND q + 15 < n),
         bounds AS (SELECT doc_id, b FROM cuts
           UNION ALL SELECT doc_id, n FROM d),
         ch AS (SELECT doc_id,
             COALESCE(LAG(b) OVER (PARTITION BY doc_id ORDER BY b), 0) AS st,
             b AS en FROM bounds),
         chd AS (SELECT c.doc_id, md5(substr(d.text,
               CAST(c.st + 1 AS INTEGER), CAST(c.en - c.st AS INTEGER))) AS h
           FROM ch c JOIN d ON c.doc_id = d.doc_id),
         byh AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM chd GROUP BY h)
         SELECT chd.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS shared_chunks,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1000000
             // COUNT(*) AS BIGINT) AS shared_ppm,
           MIN(chd.h) AS min_md5, MAX(chd.h) AS max_md5
         FROM chd JOIN byh ON chd.h = byh.h
         GROUP BY chd.doc_id ORDER BY doc_id"""),
    QuerySpec("q_dedup_incremental", qDedupIncremental,
      """SELECT doc_id FROM documents WHERE 1 = 0 ORDER BY doc_id"""),
    QuerySpec("q_mixture_resample", qMixtureResample,
      """WITH d AS (SELECT doc_id, source,
           CASE WHEN source = 'src1' THEN 2 WHEN source = 'src3' THEN 0 ELSE 1 END AS nfull,
           CASE WHEN source = 'src1' THEN 5000 WHEN source = 'src3' THEN 3000 ELSE 0 END AS thr
           FROM documents),
         c AS (SELECT doc_id, source, nfull, thr, CAST(u.i AS BIGINT) AS copy_idx
           FROM d, UNNEST(range(0, nfull + 1)) AS u(i))
         SELECT doc_id, source, copy_idx FROM c
         WHERE copy_idx < nfull
            OR (CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(copy_idx AS VARCHAR))), 1, 8)) AS BIGINT) % 10000) < thr
         ORDER BY doc_id, copy_idx"""),
    QuerySpec("q_context_chunks", qContextChunks,
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(text, '[ \t\n\r]+'), t -> t <> '') AS ts
           FROM documents),
         c AS (SELECT doc_id, CAST(p / 48 AS BIGINT) AS chunk_idx,
           array_to_string(ts[p + 1 : p + 64], ' ') AS chunk
           FROM toks, UNNEST(range(0, len(ts), 48)) AS u(p))
         SELECT doc_id, chunk_idx, chunk FROM c ORDER BY doc_id, chunk_idx"""),
    QuerySpec("q_corpus_shuffle", qCorpusShuffle,
      """WITH d AS (SELECT doc_id,
           CAST(concat('0x', substr(md5(concat('shuffle42:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS k
           FROM documents)
         SELECT doc_id, k % 16 AS bucket,
           CAST(ROW_NUMBER() OVER (PARTITION BY k % 16 ORDER BY k, doc_id) AS BIGINT) AS pos
         FROM d ORDER BY bucket, pos"""),
    QuerySpec("q_profile", qProfile,
      """WITH s AS (
           SELECT 'c_custkey' AS col_name, COUNT(*) AS n_rows, COUNT(c_custkey) AS n_nonnull,
             COUNT(DISTINCT c_custkey) AS n_distinct,
             CAST(MIN(c_custkey) AS VARCHAR) AS min_str, CAST(MAX(c_custkey) AS VARCHAR) AS max_str
           FROM customer
           UNION ALL
           SELECT 'c_name', COUNT(*), COUNT(c_name), COUNT(DISTINCT c_name),
             CAST(MIN(c_name) AS VARCHAR), CAST(MAX(c_name) AS VARCHAR) FROM customer
           UNION ALL
           SELECT 'c_nationkey', COUNT(*), COUNT(c_nationkey), COUNT(DISTINCT c_nationkey),
             CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR) FROM customer
           UNION ALL
           SELECT 'c_mktsegment', COUNT(*), COUNT(c_mktsegment), COUNT(DISTINCT c_mktsegment),
             CAST(MIN(c_mktsegment) AS VARCHAR), CAST(MAX(c_mktsegment) AS VARCHAR) FROM customer)
         SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows, CAST(n_nonnull AS BIGINT) AS n_nonnull,
           CAST(n_distinct AS BIGINT) AS n_distinct, min_str, max_str
         FROM s ORDER BY col_name"""),
    QuerySpec("q_stratified_sample", qStratifiedSample,
      """WITH d AS (SELECT lang,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS bucket
           FROM documents),
         k AS (SELECT lang, bucket FROM d
           WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 2500 WHEN 'zh' THEN 0
                                    ELSE 1000 END)
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept, CAST(MAX(bucket) AS BIGINT) AS max_bucket
         FROM k GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q_weighted_sample", qWeightedSample,
      """WITH p AS (SELECT o_orderpriority, CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS w_cents,
           (CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
             / 4294967296.0 AS u
           FROM orders),
         r AS (SELECT o_orderpriority, o_orderkey, w_cents,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             ORDER BY u / CAST(w_cents AS DOUBLE), o_orderkey) AS rn
           FROM p WHERE w_cents > 0)
         SELECT o_orderpriority, o_orderkey, w_cents
         FROM r WHERE rn <= 100 ORDER BY 1, 2"""),
    // full replay of the MinHash-candidate clustering (C14): the LSH
    // verifies exact Jaccard before a pair enters the closure, so the
    // clustering equals the exact-pair transitive closure whenever
    // recall holds — same recursive CTE as C14b, plus the keep column
    QuerySpec("q_dedup_clusters", qDedupClusters,
      """WITH RECURSIVE edges AS MATERIALIZED (
           -- inverted-index overlap counting: candidate pairs share >= 1
           -- word-3-gram, their exact intersection is COUNTED by one
           -- parallel join+aggregate (no per-pair list ops), and
           -- Jaccard >= 0.8 is the exact integer predicate
           -- 9*o >= 4*(|A|+|B|)  <=>  o/(|A|+|B|-o) >= 4/5. Only tiny
           -- relations may be NAMED in this RECURSIVE with-list: DuckDB
           -- materializes every CTE of a recursive clause and scans it
           -- single-threaded, so the heavy pipeline stays inline as
           -- derived tables (sf1: 450s -> 15s).
           SELECT CASE WHEN d.i = 0 THEN p.u ELSE p.v END AS u,
                  CASE WHEN d.i = 0 THEN p.v ELSE p.u END AS v
           FROM (
             SELECT ov.u, ov.v FROM (
               SELECT b.doc_id AS u, a.doc_id AS v, COUNT(*) AS o
               FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) a
               JOIN (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) b
                 ON a.s = b.s AND b.doc_id < a.doc_id
               GROUP BY 1, 2) ov
             JOIN (SELECT doc_id, COUNT(*) AS n FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) ga GROUP BY doc_id) sa
               ON sa.doc_id = ov.u
             JOIN (SELECT doc_id, COUNT(*) AS n FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) gb GROUP BY doc_id) sb
               ON sb.doc_id = ov.v
             WHERE 9 * ov.o >= 4 * (sa.n + sb.n)) p
           CROSS JOIN (VALUES (0), (1)) d(i)),
         reach(src, dst) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.src, e2.v FROM reach r JOIN edges e2 ON r.dst = e2.u),
         comp AS (SELECT src AS node, LEAST(src, MIN(dst)) AS cluster FROM reach GROUP BY src)
         SELECT doc_id, CAST(COALESCE(c.cluster, doc_id) AS BIGINT) AS cluster_id,
           doc_id = COALESCE(c.cluster, doc_id) AS keep
         FROM documents LEFT JOIN comp c ON doc_id = c.node
         ORDER BY doc_id"""),
    // C91: the C14b recursive closure replayed, then every impact
    // aggregate (per-source doc/char rollup + survivor-attributed
    // cluster stats) recomputed.
    QuerySpec("q_dedup_impact", qDedupImpact,
      """WITH RECURSIVE edges AS MATERIALIZED (
           -- inverted-index overlap counting: candidate pairs share >= 1
           -- word-3-gram, their exact intersection is COUNTED by one
           -- parallel join+aggregate (no per-pair list ops), and
           -- Jaccard >= 0.8 is the exact integer predicate
           -- 9*o >= 4*(|A|+|B|)  <=>  o/(|A|+|B|-o) >= 4/5. Only tiny
           -- relations may be NAMED in this RECURSIVE with-list: DuckDB
           -- materializes every CTE of a recursive clause and scans it
           -- single-threaded, so the heavy pipeline stays inline as
           -- derived tables (sf1: 450s -> 15s).
           SELECT CASE WHEN d.i = 0 THEN p.u ELSE p.v END AS u,
                  CASE WHEN d.i = 0 THEN p.v ELSE p.u END AS v
           FROM (
             SELECT ov.u, ov.v FROM (
               SELECT b.doc_id AS u, a.doc_id AS v, COUNT(*) AS o
               FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) a
               JOIN (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) b
                 ON a.s = b.s AND b.doc_id < a.doc_id
               GROUP BY 1, 2) ov
             JOIN (SELECT doc_id, COUNT(*) AS n FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) ga GROUP BY doc_id) sa
               ON sa.doc_id = ov.u
             JOIN (SELECT doc_id, COUNT(*) AS n FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) gb GROUP BY doc_id) sb
               ON sb.doc_id = ov.v
             WHERE 9 * ov.o >= 4 * (sa.n + sb.n)) p
           CROSS JOIN (VALUES (0), (1)) d(i)),
         reach(src, dst) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.src, e2.v FROM reach r JOIN edges e2 ON r.dst = e2.u),
         comp AS (SELECT src AS node, LEAST(src, MIN(dst)) AS cluster FROM reach GROUP BY src),
         kt AS (SELECT doc_id, CAST(COALESCE(c.cluster, doc_id) AS BIGINT) AS cluster_id,
             doc_id = COALESCE(c.cluster, doc_id) AS keep
           FROM documents LEFT JOIN comp c ON doc_id = c.node),
         enr AS (SELECT kt.doc_id, kt.cluster_id, kt.keep, d.source,
             length(COALESCE(d.text, '')) AS nc
           FROM kt JOIN documents d USING (doc_id)),
         ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
             CAST(SUM(nc) AS BIGINT) AS chars_total,
             CAST(SUM(CASE WHEN keep THEN 0 ELSE nc END) AS BIGINT) AS chars_removed,
             CAST(SUM(CASE WHEN keep THEN 0 ELSE nc END) * 1000000 // SUM(nc) AS BIGINT) AS removed_ppm
           FROM enr GROUP BY source),
         cl AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csz FROM kt GROUP BY 1),
         cs AS (SELECT e2.source,
             CAST(SUM(CASE WHEN cl.csz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_clusters,
             CAST(MAX(cl.csz) AS BIGINT) AS max_cluster_sz
           FROM enr e2 JOIN cl USING (cluster_id) WHERE e2.keep GROUP BY e2.source)
         SELECT ps.source, n_docs, n_keep, chars_total, chars_removed, removed_ppm,
           COALESCE(cs.n_multi_clusters, 0) AS n_multi_clusters,
           COALESCE(cs.max_cluster_sz, 0) AS max_cluster_sz
         FROM ps LEFT JOIN cs USING (source) ORDER BY source"""),
    // C53: the C14b closure plus a per-cluster argmax (token count
    // desc, id asc) — the keep-best survivor rule
    QuerySpec("q_dedup_keep_best", qDedupKeepBest,
      """WITH RECURSIVE edges AS MATERIALIZED (
           -- inverted-index overlap counting: candidate pairs share >= 1
           -- word-3-gram, their exact intersection is COUNTED by one
           -- parallel join+aggregate (no per-pair list ops), and
           -- Jaccard >= 0.8 is the exact integer predicate
           -- 9*o >= 4*(|A|+|B|)  <=>  o/(|A|+|B|-o) >= 4/5. Only tiny
           -- relations may be NAMED in this RECURSIVE with-list: DuckDB
           -- materializes every CTE of a recursive clause and scans it
           -- single-threaded, so the heavy pipeline stays inline as
           -- derived tables (sf1: 450s -> 15s).
           SELECT CASE WHEN d.i = 0 THEN p.u ELSE p.v END AS u,
                  CASE WHEN d.i = 0 THEN p.v ELSE p.u END AS v
           FROM (
             SELECT ov.u, ov.v FROM (
               SELECT b.doc_id AS u, a.doc_id AS v, COUNT(*) AS o
               FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) a
               JOIN (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) b
                 ON a.s = b.s AND b.doc_id < a.doc_id
               GROUP BY 1, 2) ov
             JOIN (SELECT doc_id, COUNT(*) AS n FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) ga GROUP BY doc_id) sa
               ON sa.doc_id = ov.u
             JOIN (SELECT doc_id, COUNT(*) AS n FROM (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS s
             FROM (SELECT doc_id, list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
               FROM documents) toks, UNNEST(range(1, len(ts) - 1)) AS u(i)) gb GROUP BY doc_id) sb
               ON sb.doc_id = ov.v
             WHERE 9 * ov.o >= 4 * (sa.n + sb.n)) p
           CROSS JOIN (VALUES (0), (1)) d(i)),
         reach(src, dst) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.src, e2.v FROM reach r JOIN edges e2 ON r.dst = e2.u),
         comp AS (SELECT src AS node, LEAST(src, MIN(dst)) AS cluster FROM reach GROUP BY src),
         scored AS (SELECT d.doc_id,
             CAST(len(list_filter(string_split_regex(COALESCE(d.text, ''), '[ \x09\x0a\x0d]+'), t -> t <> '')) AS BIGINT) AS n_tokens,
             CAST(COALESCE(c.cluster, d.doc_id) AS BIGINT) AS cluster_id
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
         ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
             ORDER BY n_tokens DESC, doc_id) AS rn FROM scored),
         reps AS (SELECT cluster_id, doc_id AS rep_id FROM ranked WHERE rn = 1)
         SELECT s.doc_id, s.cluster_id, CAST(r.rep_id AS BIGINT) AS rep_id,
           s.doc_id = r.rep_id AS keep
         FROM scored s JOIN reps r ON s.cluster_id = r.cluster_id
         ORDER BY doc_id"""),
    QuerySpec("q_dedup_clusters_sound", qDedupClustersSound,
      """SELECT doc_id AS id_a, doc_id AS id_b FROM documents
         WHERE 1 = 0 ORDER BY id_a"""),
    QuerySpec("q_snapshot_diff", qSnapshotDiff,
      """WITH base AS (SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c, o_orderstatus
           FROM orders),
         o AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
         n AS (SELECT o_orderkey,
                 CASE WHEN o_orderkey % 3 = 0 THEN c + 1 ELSE c END AS c,
                 o_orderstatus
               FROM base WHERE o_orderkey % 5 <> 0),
         d AS (SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
                      WHEN n.o_orderkey IS NULL THEN 'removed'
                      WHEN o.c <> n.c OR o.o_orderstatus <> n.o_orderstatus THEN 'changed'
                      ELSE 'unchanged' END AS status
               FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
         SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys
         FROM d GROUP BY status ORDER BY status"""),
    // Co-occurrence replay: per-doc distinct tokens, all unordered
    // in-doc pairs, min-support floor, integer-ppm lift, top 20 under
    // a total order.
    QuerySpec("q_cooccurrence", qCooccurrence,
      """WITH d0 AS (SELECT doc_id,
             list_sort(list_distinct(list_filter(regexp_split_to_array(text, '[ \t\n\r]+'),
               x -> x <> ''))) AS ws0
           FROM documents),
         d AS (SELECT doc_id, ws0[1 : 512] AS ws FROM d0),
         nd AS (SELECT COUNT(*) AS n_docs FROM d),
         ex AS (SELECT doc_id, UNNEST(ws) AS t FROM d),
         term AS (SELECT t AS tok, COUNT(*) AS c FROM ex GROUP BY 1),
         pairs AS (SELECT a.t AS t1, b.t AS t2, COUNT(*) AS c_xy
           FROM ex a JOIN ex b ON a.doc_id = b.doc_id AND a.t < b.t
           GROUP BY 1, 2 HAVING COUNT(*) >= 20)
         SELECT t1, t2, CAST(c_xy AS BIGINT) AS c_xy,
           CAST(x.c AS BIGINT) AS c_x, CAST(y.c AS BIGINT) AS c_y,
           CAST(c_xy * n_docs * 1000000 // (x.c * y.c) AS BIGINT) AS lift_ppm
         FROM pairs JOIN term x ON t1 = x.tok JOIN term y ON t2 = y.tok
         CROSS JOIN nd
         ORDER BY lift_ppm DESC, t1, t2 LIMIT 20"""),
    // Brute-force replay of the exact shingle-Jaccard join: equality
    // proves the prefix filter lost no candidate pair.
    QuerySpec("q_simjoin", qSimjoin,
      """WITH w AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), x -> x <> '') AS ts
           FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i : i + 2], ' ') AS token
                FROM w, UNNEST(range(1, len(ts) - 1)) AS u(i)),
         sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
                   FROM sh a JOIN sh b ON a.token = b.token AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id1, id2, inter, s1.n + s2.n - inter AS uni
               FROM pairs JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id)
         SELECT id1, id2, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
           CAST((inter * 1000) // uni AS BIGINT) AS jac_milli
         FROM j WHERE inter * 1000 >= 800 * uni
         ORDER BY id1, id2"""),
    QuerySpec("q_media_frames", qMediaFrames,
      """WITH b AS (SELECT doc_id AS media_id,
           octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n FROM documents),
         f AS (SELECT media_id, n, CAST(ceil(n / 64.0) AS BIGINT) AS total_frames
           FROM b WHERE n > 0),
         k AS (SELECT media_id, n, total_frames,
           CAST(ceil(total_frames / 3.0) AS BIGINT) AS n_kept FROM f)
         SELECT media_id, n_kept,
           CAST(64 * (n_kept - 1) +
             CASE WHEN (total_frames - 1) % 3 = 0
                  THEN n - 64 * (total_frames - 1) ELSE 64 END AS BIGINT) AS kept_bytes,
           CAST(3 * (n_kept - 1) AS BIGINT) AS max_idx
         FROM k ORDER BY media_id"""),
    QuerySpec("q_media_features", qMediaFeatures,
      """SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
           CAST(octet_length(CAST(COALESCE(text, '') AS BLOB)) AS BIGINT) AS n_bytes,
           TRUE AS f0_in_range
         FROM documents ORDER BY media_id"""),
    // C12c: exact media dedup — the digest collapse replayed on the
    // same bytes (md5(text) over UTF-8 ≡ md5(binary payload); ASCII
    // corpus). Planted copies: every 13th doc under id + 1,000,000.
    QuerySpec("q_media_dedup", qMediaDedup,
      """WITH m AS (
           SELECT doc_id AS media_id, md5(coalesce(text, '')) AS sig FROM documents
           UNION ALL
           SELECT doc_id + 1000000, md5(coalesce(text, '')) FROM documents
           WHERE doc_id % 13 = 0
         )
         SELECT media_id, min(media_id) OVER (PARTITION BY sig) AS rep_id,
           CAST(COUNT(*) OVER (PARTITION BY sig) AS BIGINT) AS n_copies, sig
         FROM m ORDER BY media_id"""),
    // C12c: chunk-signature near-dup — the full bucketed pipeline
    // (32-byte full chunks, stop-chunk cap 100, Jaccard >= 0.7 in
    // truncating ppm) replayed chunk for chunk on the same bytes.
    QuerySpec("q_media_neardup", qMediaNeardup,
      """WITH m AS MATERIALIZED (
           SELECT doc_id AS media_id, coalesce(text, '') AS p FROM documents
           UNION ALL
           SELECT doc_id + 2000000,
             substring(text, 1, length(text) - 10) || 'XXXXXXXXXX'
           FROM documents WHERE doc_id % 7 = 0 AND length(text) >= 224
         ),
         sg AS MATERIALIZED (
           SELECT DISTINCT media_id, md5(substring(p, CAST(u.i AS INT) * 32 + 1, 32)) AS sig
           FROM m, UNNEST(range(0, length(p) // 32)) AS u(i)
         ),
         cold AS MATERIALIZED (
           SELECT media_id, sig FROM sg
           WHERE sig NOT IN (SELECT sig FROM sg GROUP BY sig HAVING COUNT(*) > 100)
         ),
         sz AS MATERIALIZED (
           SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n FROM cold GROUP BY 1
         ),
         pr AS MATERIALIZED (
           SELECT a.media_id AS media_a, b.media_id AS media_b,
             CAST(COUNT(*) AS BIGINT) AS shared_chunks
           FROM cold a JOIN cold b ON a.sig = b.sig AND a.media_id < b.media_id
           GROUP BY 1, 2
         )
         SELECT media_a, media_b, shared_chunks,
           CAST(shared_chunks * 1000000 // (sa.n + sb.n - shared_chunks) AS BIGINT)
             AS resemblance_ppm
         FROM pr
         JOIN sz sa ON pr.media_a = sa.media_id
         JOIN sz sb ON pr.media_b = sb.media_id
         WHERE shared_chunks * 1000000 // (sa.n + sb.n - shared_chunks) >= 700000
         ORDER BY media_a, media_b"""),
    QuerySpec("q_media_clusters", qMediaClusters,
      """WITH RECURSIVE m AS MATERIALIZED (
           SELECT doc_id AS media_id, coalesce(text, '') AS p FROM documents
           UNION ALL
           SELECT doc_id + 1000000, coalesce(text, '') FROM documents
           WHERE doc_id % 13 = 0
           UNION ALL
           SELECT doc_id + 2000000,
             substring(text, 1, length(text) - 10) || 'XXXXXXXXXX'
           FROM documents WHERE doc_id % 7 = 0 AND length(text) >= 224
         ),
         ex AS MATERIALIZED (
           SELECT min(media_id) OVER (PARTITION BY md5(p)) AS id_a,
             media_id AS id_b
           FROM m QUALIFY id_a <> id_b
         ),
         sg AS MATERIALIZED (
           SELECT DISTINCT media_id, md5(substring(p, CAST(u.i AS INT) * 32 + 1, 32)) AS sig
           FROM m, UNNEST(range(0, length(p) // 32)) AS u(i)
         ),
         cold AS MATERIALIZED (
           SELECT media_id, sig FROM sg
           WHERE sig NOT IN (SELECT sig FROM sg GROUP BY sig HAVING COUNT(*) > 100)
         ),
         sz AS MATERIALIZED (
           SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n FROM cold GROUP BY 1
         ),
         nr AS MATERIALIZED (
           SELECT media_a AS id_a, media_b AS id_b FROM (
             SELECT a.media_id AS media_a, b.media_id AS media_b,
               CAST(COUNT(*) AS BIGINT) AS shared_chunks
             FROM cold a JOIN cold b ON a.sig = b.sig AND a.media_id < b.media_id
             GROUP BY 1, 2) pr
           JOIN sz sa ON pr.media_a = sa.media_id
           JOIN sz sb ON pr.media_b = sb.media_id
           WHERE shared_chunks * 1000000 // (sa.n + sb.n - shared_chunks) >= 700000
         ),
         e AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM ex
           UNION SELECT id_a, id_b FROM nr),
         edges AS MATERIALIZED (SELECT u, v FROM e UNION SELECT v, u FROM e),
         reach(src, dst) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.src, e2.v FROM reach r JOIN edges e2 ON r.dst = e2.u),
         comp AS (SELECT src AS node, LEAST(src, MIN(dst)) AS cluster FROM reach GROUP BY src)
         SELECT media_id, CAST(COALESCE(c.cluster, media_id) AS BIGINT) AS cluster_id,
           media_id = COALESCE(c.cluster, media_id) AS keep
         FROM m LEFT JOIN comp c ON media_id = c.node
         ORDER BY media_id"""),
    // C12c: the media keep-table — exact + near pairs closed
    // transitively (the q_dedup_clusters recursive-CTE pattern).
    // C12d: every header field recomputed by the independent doc-id
    // arithmetic the constructor used — a wrong endianness, a
    // fixed-offset shortcut past the planted JUNK/APP1, or a crash on
    // the poisoned 'unknown' class all hash-mismatch.
    QuerySpec("q_media_headers", qMediaHeaders,
      """SELECT doc_id AS media_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
             WHEN 2 THEN 'jpeg' ELSE 'unknown' END AS format,
           CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id % 640 + 32
             WHEN doc_id % 4 = 2 THEN doc_id % 512 + 16 ELSE 0 END AS BIGINT) AS width,
           CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id % 480 + 32
             WHEN doc_id % 4 = 2 THEN doc_id % 384 + 16 ELSE 0 END AS BIGINT) AS height,
           CAST(CASE WHEN doc_id % 4 = 1 THEN doc_id % 8 * 1000 + 8000
             ELSE 0 END AS BIGINT) AS sample_rate,
           CAST(CASE WHEN doc_id % 4 = 1 THEN doc_id % 2 + 1
             ELSE 0 END AS BIGINT) AS channels
         FROM documents ORDER BY media_id"""),
    // C93: the canonical URL recomputed character-for-character by
    // independent arithmetic (no parsing in the oracle), plus the
    // rep/count/keep group relation — wrong scheme fold / port strip /
    // param sort / fragment rule or grouping error all hash-mismatch.
    QuerySpec("q_url_dedup", qUrlDedup,
      """WITH d1 AS (SELECT doc_id AS id, doc_id // 8 AS k FROM documents),
         g1 AS (SELECT k, CAST(MIN(id) AS BIGINT) AS rep,
             CAST(COUNT(*) AS BIGINT) AS n FROM d1 GROUP BY k),
         d2 AS (SELECT doc_id + 1000000 AS id, doc_id // 2 AS k FROM documents),
         g2 AS (SELECT k, CAST(MIN(id) AS BIGINT) AS rep,
             CAST(COUNT(*) AS BIGINT) AS n FROM d2 GROUP BY k),
         d3 AS (SELECT doc_id + 2000000 AS id, doc_id // 2 AS k FROM documents),
         g3 AS (SELECT k, CAST(MIN(id) AS BIGINT) AS rep,
             CAST(COUNT(*) AS BIGINT) AS n FROM d3 GROUP BY k),
         d4 AS (SELECT doc_id + 3000000 AS id, doc_id // 2 AS k,
             doc_id % 2 AS r FROM documents)
         SELECT * FROM (
           SELECT id,
             concat('https://example', k, '.com/a/b', k, '?a=1&b=2') AS canon_url,
             g1.rep AS rep_id, g1.n AS n_copies, id = g1.rep AS keep
           FROM d1 JOIN g1 USING (k)
           UNION ALL
           SELECT id,
             concat('https://example', k, '.org/p?q=%2Fv~') AS canon_url,
             g2.rep AS rep_id, g2.n AS n_copies, id = g2.rep AS keep
           FROM d2 JOIN g2 USING (k)
           UNION ALL
           SELECT id,
             concat('https://fold', k, '.com/p') AS canon_url,
             g3.rep AS rep_id, g3.n AS n_copies, id = g3.rep AS keep
           FROM d3 JOIN g3 USING (k)
           UNION ALL
           SELECT id,
             concat(CASE WHEN r = 0 THEN 'http' ELSE 'https' END,
               '://fold', k, '.com/p') AS canon_url,
             CAST(id AS BIGINT) AS rep_id, CAST(1 AS BIGINT) AS n_copies,
             TRUE AS keep
           FROM d4)
         ORDER BY id"""),
    // The Spark path collapses segments by xxhash64; grouping the
    // segment STRINGS here re-proves hash-space ≡ string-space.
    QuerySpec("q_segment_dedup", qSegmentDedup,
      """WITH toks AS (SELECT doc_id,
           list_filter(regexp_split_to_array(COALESCE(text, ''), '[ \t\n\r]+'), x -> x <> '') AS ts
           FROM documents),
         chunks AS (SELECT doc_id, i AS cidx,
             array_to_string(ts[(i * 8 + 1) : (i * 8 + 8)], ' ') AS chunk
           FROM toks, UNNEST(range(0, CAST(ceil(len(ts) / 8.0) AS BIGINT))) AS u(i)),
         dup AS (SELECT chunk FROM chunks GROUP BY chunk
                 HAVING COUNT(DISTINCT doc_id) >= 2),
         marked AS (SELECT c.doc_id, c.cidx, c.chunk, d.chunk IS NOT NULL AS removed
           FROM chunks c LEFT JOIN dup d ON c.chunk = d.chunk),
         agg AS (SELECT doc_id,
             COALESCE(string_agg(CASE WHEN NOT removed THEN chunk END, ' ' ORDER BY cidx), '') AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(COUNT(*) FILTER (removed) AS BIGINT) AS n_removed
           FROM marked GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
           COALESCE(a.n_chunks, 0) AS n_chunks, COALESCE(a.n_removed, 0) AS n_removed
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY d.doc_id"""),
    QuerySpec("q_boilerplate", qBoilerplate,
      """WITH toks AS (SELECT doc_id, source,
           list_filter(regexp_split_to_array(COALESCE(text, ''), '[ \t\n\r]+'), x -> x <> '') AS ts
           FROM documents),
         chunks AS (SELECT doc_id, source, i AS cidx,
             array_to_string(ts[(i * 2 + 1) : (i * 2 + 2)], ' ') AS chunk
           FROM toks, UNNEST(range(0, CAST(ceil(len(ts) / 2.0) AS BIGINT))) AS u(i)),
         gd AS (SELECT source, COUNT(*) AS gdocs FROM documents GROUP BY source),
         boiler AS (SELECT source, chunk FROM (
             SELECT c.source, c.chunk, COUNT(DISTINCT c.doc_id) AS ndocs, MAX(g.gdocs) AS gdocs
             FROM chunks c JOIN gd g ON c.source = g.source
             GROUP BY c.source, c.chunk)
           WHERE ndocs >= 5 AND ndocs * 1000 >= gdocs * 200),
         marked AS (SELECT c.doc_id, c.source, c.cidx, c.chunk, b.chunk IS NOT NULL AS removed
           FROM chunks c LEFT JOIN boiler b ON c.source = b.source AND c.chunk = b.chunk),
         agg AS (SELECT doc_id,
             COALESCE(string_agg(CASE WHEN NOT removed THEN chunk END, ' ' ORDER BY cidx), '') AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(COUNT(*) FILTER (removed) AS BIGINT) AS n_removed
           FROM marked GROUP BY doc_id)
         SELECT d.doc_id, d.source, COALESCE(a.clean_text, '') AS clean_text,
           COALESCE(a.n_chunks, 0) AS n_chunks, COALESCE(a.n_removed, 0) AS n_removed
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY d.doc_id"""),
    QuerySpec("q_inverted_index", qInvertedIndex,
      """WITH toks AS (SELECT doc_id,
           list_filter(regexp_split_to_array(COALESCE(text, ''), '[ \t\n\r]+'), x -> x <> '') AS ts
           FROM documents),
         terms AS (SELECT DISTINCT doc_id, t AS term FROM toks, UNNEST(ts) AS u(t))
         SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(doc_id) AS BIGINT) AS doc_sum,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         FROM terms GROUP BY term ORDER BY term"""),
    QuerySpec("q_cluster_assign", qClusterAssign,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 8),
         sims AS (SELECT e.vec_id, c.cid, list_cosine_similarity(e.emb, c.cemb) AS s
                  FROM e, c),
         r AS (SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
           FROM sims)
         SELECT vec_id, cid AS cluster FROM r WHERE rn = 1 ORDER BY vec_id"""),
    QuerySpec("q_filter_chain", qFilterChain,
      """WITH toks AS (SELECT doc_id, lang, text,
           list_filter(regexp_split_to_array(COALESCE(text, ''), '[ \t\n\r]+'), x -> x <> '') AS ts
           FROM documents),
         base AS (SELECT doc_id, lang, text,
             CAST(len(ts) AS BIGINT) AS n_words,
             CAST(greatest(len(ts) - 1, 0) AS BIGINT) AS n_g2,
             CAST(len(list_distinct(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]))) AS BIGINT) AS n_u2g
           FROM toks),
         flags AS (SELECT doc_id,
             (lang = 'en') AS pass_lang,
             (n_words >= 20 AND n_words <= 2000) AS pass_len,
             (CASE WHEN LEN(list_filter(regexp_split_to_array(LOWER(text), '\W+'), w -> LEN(w) > 0)) = 0 THEN 0.0 ELSE
               LEN(list_filter(list_filter(regexp_split_to_array(LOWER(text), '\W+'), w -> LEN(w) > 0),
                   w -> w IN ('the','a','an','of','and','to','in','is','on','for','with','at','by','from','it','that','this','be','are','as')))::DOUBLE /
               LEN(list_filter(regexp_split_to_array(LOWER(text), '\W+'), w -> LEN(w) > 0)) END >= 0.1) AS pass_stop,
             (n_g2 = 0 OR n_u2g * 5 >= n_g2 * 2) AS pass_rep
           FROM base)
         SELECT doc_id, pass_lang, pass_len, pass_stop, pass_rep,
           (pass_lang AND pass_len AND pass_stop AND pass_rep) AS keep
         FROM flags ORDER BY doc_id"""),
    // End-to-end corpus-assembly replay: stage CTEs mirror the Spark
    // pipeline 1:1 — canon = C93 canonical-URL dedup of the planted
    // per-pair surface variants (replayed as min-id per doc_id // 2
    // group, INDEPENDENT of URL parsing), flt = quality gate
    // (whitespace-token count band, stopword floor, 2-gram
    // uniqueness), ex = exact dedup (min id per md5), dead/ndd =
    // complete shingle-space Jaccard keep-first (the oracle can
    // afford straight all-pairs; shared-shingle blocking loses
    // nothing at >= 0.8), bg/dirty/dec = 4-gram benchmark
    // decontamination vs the RAW %97 slice, samp = md5-bucket
    // stratified keep (8000/5000/2500 of 10000), packed = cumulative
    // token-offset chunking; final md5(string_agg) fingerprints every
    // byte of every chunk.
    QuerySpec("q_corpus_pipeline", qCorpusPipeline,
      """WITH toks AS (SELECT doc_id, lang, source, text,
           list_filter(regexp_split_to_array(COALESCE(text, ''), '[ \t\n\r]+'), x -> x <> '') AS ts
           FROM documents),
         canon AS (SELECT * FROM toks
           WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY doc_id // 2)),
         base AS (SELECT *, CAST(len(ts) AS BIGINT) AS n_words,
             CAST(greatest(len(ts) - 1, 0) AS BIGINT) AS n_g2,
             CAST(len(list_distinct(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]))) AS BIGINT) AS n_u2g
           FROM canon),
         flt AS (SELECT doc_id, lang, source, text, ts FROM base
           WHERE n_words >= 20 AND n_words <= 2000
             AND (CASE WHEN LEN(list_filter(regexp_split_to_array(LOWER(text), '\W+'), w -> LEN(w) > 0)) = 0 THEN 0.0 ELSE
               LEN(list_filter(list_filter(regexp_split_to_array(LOWER(text), '\W+'), w -> LEN(w) > 0),
                   w -> w IN ('the','a','an','of','and','to','in','is','on','for','with','at','by','from','it','that','this','be','are','as')))::DOUBLE /
               LEN(list_filter(regexp_split_to_array(LOWER(text), '\W+'), w -> LEN(w) > 0)) END) >= 0.1
             AND (n_g2 = 0 OR n_u2g * 5 >= n_g2 * 2)),
         ex AS (SELECT f.* FROM flt f
           JOIN (SELECT md5(text) AS k, MIN(doc_id) AS keep_id FROM flt GROUP BY 1) e
             ON f.doc_id = e.keep_id),
         sh AS (SELECT doc_id, list(DISTINCT array_to_string(ws[i : i + 2], ' ')) AS sh
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ws
                 FROM ex),
             UNNEST(range(1, len(ws) - 1)) AS u(i)
           GROUP BY doc_id),
         dead AS (SELECT DISTINCT a.doc_id AS id FROM sh a JOIN sh b ON b.doc_id < a.doc_id
           AND len(list_intersect(a.sh, b.sh)) * 1.0 /
               len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         ndd AS (SELECT * FROM ex ANTI JOIN dead ON doc_id = id),
         bg AS (SELECT DISTINCT array_to_string(ts[i : i + 3], ' ') AS gram
           FROM toks, UNNEST(range(1, len(ts) - 2)) AS u(i)
           WHERE doc_id % 97 = 0),
         dirty AS (SELECT DISTINCT t.doc_id
           FROM (SELECT doc_id, ts FROM ndd WHERE doc_id % 97 <> 0) t,
             UNNEST(range(1, len(ts) - 2)) AS u(i)
           WHERE array_to_string(ts[i : i + 3], ' ') IN (SELECT gram FROM bg)),
         dec AS (SELECT * FROM ndd WHERE doc_id % 97 <> 0
           AND doc_id NOT IN (SELECT doc_id FROM dirty)),
         samp AS (SELECT * FROM dec
           WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 <
             CASE lang WHEN 'en' THEN 8000 WHEN 'es' THEN 5000 ELSE 2500 END),
         packed AS (SELECT source, doc_id, text, CAST(len(ts) AS BIGINT) AS n_tok,
             COALESCE(SUM(CAST(len(ts) AS BIGINT)) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS chunk_id
           FROM samp)
         SELECT source, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS chunk_tok,
           md5(string_agg(text, ' ' ORDER BY doc_id)) AS text_md5
         FROM packed GROUP BY 1, 2 ORDER BY source, chunk_id"""),
    QuerySpec("q_table_checksum", qTableChecksum,
      """WITH h AS (SELECT CAST(concat('0x', substr(md5(
             CAST(doc_id AS VARCHAR) || ':' || COALESCE(lang, '') || ':' ||
             COALESCE(source, '') || ':' || COALESCE(text, '')), 1, 8)) AS BIGINT) AS h
           FROM documents)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h) AS BIGINT) AS checksum_sum,
           CAST(BIT_XOR(h) AS BIGINT) AS checksum_xor
         FROM h"""),
    QuerySpec("q_source_overlap", qSourceOverlap,
      """WITH toks AS (SELECT source,
           list_filter(string_split_regex(COALESCE(text, ''), '[ \t\n\r]+'), t -> t <> '') AS ts
           FROM documents),
         sh AS (SELECT DISTINCT source, md5(array_to_string(ts[i : i + 2], ' ')) AS h
           FROM toks, UNNEST(range(1, len(ts) - 1)) AS u(i)),
         r AS (SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn FROM sh),
         k AS (SELECT source, h FROM r WHERE rn <= 256),
         pairs AS (SELECT DISTINCT a.source AS sa, b.source AS sb
           FROM k a, k b WHERE a.source < b.source),
         uni AS (SELECT p.sa, p.sb, x.h,
             MAX(CASE WHEN x.source = p.sa THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN x.source = p.sb THEN 1 ELSE 0 END) AS in_b
           FROM pairs p JOIN k x ON x.source = p.sa OR x.source = p.sb
           GROUP BY 1, 2, 3),
         rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM uni)
         SELECT sa AS src_a, sb AS src_b,
           CAST(SUM(in_a * in_b) AS BIGINT) AS matched,
           CAST(COUNT(*) AS BIGINT) AS denom,
           CAST(SUM(in_a * in_b) * 1000000 // COUNT(*) AS BIGINT) AS jaccard_ppm
         FROM rk WHERE rn <= 256 GROUP BY 1, 2 ORDER BY 1, 2"""),
    QuerySpec("q_record_linkage", qRecordLinkage,
      """WITH r AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer)
         SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
         FROM r a JOIN r b
           ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
           AND a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1
         ORDER BY id_a, id_b"""),
    // C32b: FastSS deletion-neighborhood replay — keys regenerated by
    // independent substr arithmetic, key-join candidates, exact verify.
    QuerySpec("q_record_linkage_del", qRecordLinkageDel,
      """WITH r AS (SELECT c_custkey AS id, c_name AS s FROM customer
           WHERE c_name IS NOT NULL),
         k AS (SELECT id, s, s AS k FROM r
           UNION
           SELECT id, s,
             substr(s, 1, CAST(u.i AS INT) - 1) || substr(s, CAST(u.i AS INT) + 1)
           FROM r, UNNEST(range(1, len(s) + 1)) AS u(i)),
         cand AS (SELECT DISTINCT a.id AS id_a, a.s AS s_a, b.id AS id_b, b.s AS s_b
           FROM k a JOIN k b ON a.k = b.k AND a.id < b.id)
         SELECT id_a, id_b, CAST(levenshtein(s_a, s_b) AS BIGINT) AS dist
         FROM cand WHERE levenshtein(s_a, s_b) <= 1
         ORDER BY id_a, id_b"""),
    // C32c: both deletion levels regenerated by substr arithmetic; the
    // thresholded verify is load-bearing at k = 2 (shared 2-deletion
    // keys reach true distance 4)
    QuerySpec("q_record_linkage_del2", qRecordLinkageDel2,
      """WITH r AS (SELECT c_custkey AS id,
           c_name || '|' || c_mktsegment || CAST(c_nationkey AS VARCHAR) AS s
           FROM customer),
         n AS (SELECT DISTINCT s FROM r),
         d1 AS (SELECT s,
             substr(s, 1, CAST(u.i AS INT) - 1) || substr(s, CAST(u.i AS INT) + 1) AS k
           FROM n, UNNEST(range(1, len(s) + 1)) AS u(i)),
         k2 AS (SELECT s, s AS k FROM n
           UNION SELECT s, k FROM d1
           UNION
           SELECT s,
             substr(k, 1, CAST(u.i AS INT) - 1) || substr(k, CAST(u.i AS INT) + 1)
           FROM d1, UNNEST(range(1, len(k) + 1)) AS u(i)),
         np AS (SELECT s1, s2, CAST(levenshtein(s1, s2) AS BIGINT) AS dist
           FROM (SELECT DISTINCT a.s AS s1, b.s AS s2
             FROM k2 a JOIN k2 b ON a.k = b.k AND a.s < b.s)
           WHERE levenshtein(s1, s2) <= 2)
         SELECT id_a, id_b, dist FROM (
           SELECT x.id AS id_a, y.id AS id_b, CAST(0 AS BIGINT) AS dist
           FROM r x JOIN r y ON x.s = y.s AND x.id < y.id
           UNION ALL
           SELECT LEAST(x.id, y.id), GREATEST(x.id, y.id), np.dist
           FROM np JOIN r x ON x.s = np.s1 JOIN r y ON y.s = np.s2)
         ORDER BY id_a, id_b"""),
    // C32d: neighborhoods + union-find replayed — deletion keys by
    // substr arithmetic, dist<=1 verify, recursive-CTE transitive
    // closure labeled by component-minimum id (the C14 oracle shape)
    QuerySpec("q_linkage_clusters", qLinkageClusters,
      """WITH RECURSIVE r AS (SELECT c_custkey AS id,
           c_name || '|' || c_mktsegment || CAST(c_nationkey AS VARCHAR) AS s
           FROM customer),
         n AS (SELECT DISTINCT s FROM r),
         k AS (SELECT s, s AS k FROM n
           UNION
           SELECT s,
             substr(s, 1, CAST(u.i AS INT) - 1) || substr(s, CAST(u.i AS INT) + 1)
           FROM n, UNNEST(range(1, len(s) + 1)) AS u(i)),
         np AS (SELECT s1, s2
           FROM (SELECT DISTINCT a.s AS s1, b.s AS s2
             FROM k a JOIN k b ON a.k = b.k AND a.s < b.s)
           WHERE levenshtein(s1, s2) <= 1),
         pairs AS (SELECT x.id AS u, y.id AS v
             FROM np JOIN r x ON x.s = np.s1 JOIN r y ON y.s = np.s2
           UNION
           SELECT x.id, y.id FROM r x JOIN r y ON x.s = y.s AND x.id < y.id),
         edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
         reach(src, dst) AS (
           SELECT u, v FROM edges
           UNION
           SELECT rc.src, e.v FROM reach rc JOIN edges e ON rc.dst = e.u),
         comp AS (SELECT src AS node, LEAST(src, MIN(dst)) AS cluster
           FROM reach GROUP BY src)
         SELECT c_custkey AS id,
           CAST(COALESCE(c.cluster, c_custkey) AS BIGINT) AS cluster
         FROM customer LEFT JOIN comp c ON c_custkey = c.node
         ORDER BY id"""),
    // quantile_disc ≡ Spark percentile_disc (B52 precedent); scores are
    // threshold compares so ties land identically in both engines.
    QuerySpec("q_rfm", qRfm,
      """WITH base AS (SELECT o_custkey,
             CAST(datediff('day', MAX(CAST(o_orderdate AS DATE)), DATE '2001-09-01') AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS monetary_cents
           FROM orders GROUP BY 1),
         s AS (SELECT *, -recency_days AS rec_neg FROM base),
         cuts AS (SELECT
             quantile_disc(rec_neg, 0.2) AS r1, quantile_disc(rec_neg, 0.4) AS r2,
             quantile_disc(rec_neg, 0.6) AS r3, quantile_disc(rec_neg, 0.8) AS r4,
             quantile_disc(frequency, 0.2) AS f1, quantile_disc(frequency, 0.4) AS f2,
             quantile_disc(frequency, 0.6) AS f3, quantile_disc(frequency, 0.8) AS f4,
             quantile_disc(monetary_cents, 0.2) AS m1, quantile_disc(monetary_cents, 0.4) AS m2,
             quantile_disc(monetary_cents, 0.6) AS m3, quantile_disc(monetary_cents, 0.8) AS m4
           FROM s),
         sc AS (SELECT o_custkey, recency_days, frequency, monetary_cents,
             CAST(1 + (rec_neg > r1)::INT + (rec_neg > r2)::INT
                    + (rec_neg > r3)::INT + (rec_neg > r4)::INT AS BIGINT) AS r_score,
             CAST(1 + (frequency > f1)::INT + (frequency > f2)::INT
                    + (frequency > f3)::INT + (frequency > f4)::INT AS BIGINT) AS f_score,
             CAST(1 + (monetary_cents > m1)::INT + (monetary_cents > m2)::INT
                    + (monetary_cents > m3)::INT + (monetary_cents > m4)::INT AS BIGINT) AS m_score
           FROM s, cuts)
         SELECT *, CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment
         FROM sc ORDER BY o_custkey"""),
    // BIGINT // truncates toward zero exactly like Spark's `div`
    // (verified on negative sums). The DOUBLE cast is load-bearing:
    // DuckDB evaluates FLOAT * INT in FLOAT precision (Spark promotes
    // to double), which shifts ~0.5% of element roundings by one micro.
    QuerySpec("q_embedding_stats", qEmbeddingStats,
      """SELECT label, CAST(u.i - 1 AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000) AS BIGINT))
             // COUNT(*) AS BIGINT) AS centroid_micro
         FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    // C81: the exact integer moment pass replayed from the parquet —
    // every upper-tri second moment, first moment, and n.
    QuerySpec("q_pca_gram", qPcaGram,
      """WITH q AS (SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS i,
           CAST(floor(CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv
         FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
         g AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS v
           FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
         s AS (SELECT i, CAST(-1 AS BIGINT) AS j, CAST(SUM(qv) AS BIGINT) AS v
           FROM q GROUP BY 1)
         SELECT i, j, v FROM g
         UNION ALL SELECT i, j, v FROM s
         UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)
         ORDER BY i, j"""),
    // C81b: eigenvalues are driver doubles — the row carries provable
    // invariants (orthonormal basis, variance order, whitened
    // variance ≈ 1 computed distributed), all TRUE.
    QuerySpec("q_pca_project", qPcaProject,
      """SELECT CAST(u.c AS BIGINT) AS component,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_used,
           TRUE AS ortho_ok, TRUE AS order_ok, TRUE AS var_ok
         FROM UNNEST(range(0, 8)) AS u(c) ORDER BY component"""),
    // C82: the whole affine int8 map replayed in integers.
    QuerySpec("q_quantize_int8", qQuantizeInt8,
      """WITH q AS (SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS pos,
           CAST(floor(CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv
         FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
         cal AS (SELECT pos, MIN(qv) AS qmin, MAX(qv) AS qmax FROM q GROUP BY pos)
         SELECT vec_id, pos,
           CAST(CASE WHEN qmax = qmin THEN 0
             ELSE ((qv - qmin) * 510 + (qmax - qmin)) // (2 * (qmax - qmin))
           END AS BIGINT) AS code
         FROM q JOIN cal USING (pos) ORDER BY vec_id, pos"""),
    // C83: fixed power-of-two cap ladder (CASE chain, no float log2),
    // integer waste ppm.
    QuerySpec("q_length_buckets", qLengthBuckets,
      """WITH toks AS (SELECT CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT) AS n_tok
           FROM documents),
         b AS (SELECT n_tok, CAST(CASE
             WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
             WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
             WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
             WHEN n_tok <= 1024 THEN 1024 WHEN n_tok <= 2048 THEN 2048
             ELSE 4096 END AS BIGINT) AS cap FROM toks)
         SELECT cap, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
           CAST(cap * COUNT(*) AS BIGINT) AS padded_tok,
           CAST((cap * COUNT(*) - SUM(n_tok)) * 1000000 // (cap * COUNT(*)) AS BIGINT) AS waste_ppm
         FROM b GROUP BY cap ORDER BY cap"""),
    // C84: the eight learned merges replayed round for round.
    QuerySpec("q_bpe_merges", qBpeMerges,
      ("WITH " + sqlBpeRounds(8) + """
         u AS (""" +
        (1 to 8).map(r => s"SELECT CAST($r AS BIGINT) AS merge_idx, pair, wcnt FROM b$r")
          .mkString(" UNION ALL ") + """)
         SELECT merge_idx, pair, replace(pair, ' ', '') AS merged, wcnt
         FROM u ORDER BY merge_idx""")),
    // C85: the final segmentation joined back to the corpus words.
    QuerySpec("q_bpe_apply", qBpeApply,
      ("WITH " + sqlBpeRounds(8) + """
         words AS (SELECT doc_id, w FROM (
           SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(TRIM(text), '\s+'), t -> t <> '')) AS w
           FROM documents))
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(w)) AS BIGINT) AS symbols_before,
           CAST(SUM(len(string_split(trim(sym), ' '))) AS BIGINT) AS tokens_after
         FROM words JOIN v8 USING (w)
         GROUP BY doc_id ORDER BY doc_id""")),
    // C84b: 64 batched merges replayed round for round — window,
    // disjointness anti-join, pick cap, ordered replace fold.
    QuerySpec("q_bpe_merges_batched", qBpeMergesBatched,
      ("WITH " + sqlBpeBatchedRounds(14, 8) + """
         u AS (""" +
        (1 to 14).map(r =>
          s"SELECT CAST($r AS BIGINT) AS round, CAST(pick AS BIGINT) AS pick, pair, wcnt FROM sel$r")
          .mkString(" UNION ALL ") + """)
         SELECT CAST(row_number() OVER (ORDER BY round, pick) AS BIGINT) AS merge_idx,
           round, pick, pair, replace(pair, ' ', '') AS merged, wcnt
         FROM u ORDER BY merge_idx""")),
    // C51's scaling + truncating-div centroids, HUGEINT-safe diff
    // squares, and the (dist desc, id asc) top-3 replayed.
    QuerySpec("q_centroid_outliers", qCentroidOutliers,
      """WITH m AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
             u.i - 1 AS dim,
             CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS micro
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         c AS (SELECT label, dim,
             CAST(SUM(micro) // COUNT(*) AS BIGINT) AS cent
           FROM m GROUP BY 1, 2),
         d AS (SELECT vec_id, m.label,
             SUM((micro - cent) * (micro - cent)) AS dist_sq
           FROM m JOIN c ON m.label = c.label AND m.dim = c.dim
           GROUP BY 1, 2),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
             ORDER BY dist_sq DESC, vec_id) AS rnk FROM d)
         SELECT label, CAST(rnk AS BIGINT) AS rnk, vec_id,
           CAST(dist_sq AS BIGINT) AS dist_sq
         FROM r WHERE rnk <= 3 ORDER BY label, rnk"""),
    // the Mann-Whitney identity replayed from the pair DEFINITION in
    // HUGEINT — concordant pairs ×2 plus cross-class ties, never ranks.
    QuerySpec("q_ranking_auc", qRankingAuc,
      """WITH d AS (SELECT source, n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
           FROM documents),
         g AS (SELECT source, score, SUM(pos) AS p, COUNT(*) - SUM(pos) AS n
           FROM d GROUP BY 1, 2),
         c AS (SELECT *, COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_below
           FROM g)
         SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(SUM(n) AS BIGINT) AS n_neg,
           CAST(SUM(p * n_below) * 2 + SUM(p * n) AS BIGINT) AS auc_num_2x,
           CAST(2 * SUM(p) * SUM(n) AS BIGINT) AS auc_den_2x,
           CAST(CASE WHEN SUM(p) = 0 OR SUM(n) = 0 THEN NULL
             ELSE (SUM(p * n_below) * 2 + SUM(p * n)) * 1000000
                  // (2 * SUM(p) * SUM(n)) END AS BIGINT) AS auc_micros
         FROM c GROUP BY source ORDER BY source"""),
    // all four stages replayed in one statement: BM25 closed form,
    // micros distances, RRF fusion top-8, three unrolled MMR picks.
    QuerySpec("q_hybrid_retrieval", qHybridRetrieval,
      """WITH toks AS (SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), t -> t <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(dl) AS BIGINT) AS s FROM dl),
         sc AS (SELECT tf.doc_id,
             (CAST(1000000 AS HUGEINT) * (2 * g.n - 2 * df.df + 1) * 22 * tf.tf * g.s)
               // ((2 * df.df + 1) * (CAST(10 AS HUGEINT) * g.s * tf.tf + 3 * g.s + 9 * dl.dl * g.n))
               AS score_ppm
           FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN g
           WHERE term IN ('vector', 'stream', 'window')),
         bm AS (SELECT doc_id, SUM(score_ppm) AS score FROM sc GROUP BY 1
                ORDER BY score DESC, doc_id LIMIT 20),
         lex AS (SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank FROM bm),
         m AS (SELECT vec_id, u.i - 1 AS dim,
             CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS micro
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         pq AS (SELECT dim, micro AS pm FROM m WHERE vec_id = 0),
         dqall AS (SELECT m.vec_id, SUM((m.micro - pq.pm) * (m.micro - pq.pm)) AS dq
           FROM m JOIN pq USING (dim) WHERE m.vec_id <> 0 GROUP BY 1),
         dq20 AS (SELECT vec_id, dq FROM dqall ORDER BY dq, vec_id LIMIT 20),
         sem AS (SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY dq, vec_id) AS sem_rank FROM dq20),
         fused AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS id,
             COALESCE(1000000 // (60 + lex_rank), 0)
               + COALESCE(1000000 // (60 + sem_rank), 0) AS rrf_ppm
           FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
           ORDER BY rrf_ppm DESC, id LIMIT 8),
         pool AS (SELECT f.id AS vec_id, d.dq, f.rrf_ppm
           FROM fused f JOIN dqall d ON d.vec_id = f.id WHERE f.id <> 0),
         pm2 AS (SELECT m.vec_id, m.dim, m.micro FROM m
           JOIN pool USING (vec_id)),
         pd AS (SELECT a.vec_id AS i, b.vec_id AS j,
             SUM((a.micro - b.micro) * (a.micro - b.micro)) AS d
           FROM pm2 a JOIN pm2 b ON a.dim = b.dim AND a.vec_id <> b.vec_id
           GROUP BY 1, 2),
         s1 AS (SELECT vec_id, dq, rrf_ppm FROM pool ORDER BY dq, vec_id LIMIT 1),
         s2 AS (SELECT p.vec_id, p.dq, p.rrf_ppm, pd.d - p.dq AS gain
           FROM pool p JOIN pd ON pd.i = p.vec_id
             AND pd.j = (SELECT vec_id FROM s1)
           WHERE p.vec_id <> (SELECT vec_id FROM s1)
           ORDER BY gain DESC, p.vec_id LIMIT 1),
         s3 AS (SELECT p.vec_id, p.dq, p.rrf_ppm, MIN(pd.d) - p.dq AS gain
           FROM pool p JOIN pd ON pd.i = p.vec_id
             AND pd.j IN ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2))
           WHERE p.vec_id NOT IN ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2))
           GROUP BY p.vec_id, p.dq, p.rrf_ppm
           ORDER BY gain DESC, p.vec_id LIMIT 1)
         SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id,
           CAST(rrf_ppm AS BIGINT) AS rrf_ppm, CAST(dq AS BIGINT) AS dist_q,
           CAST(NULL AS BIGINT) AS gain FROM s1
         UNION ALL SELECT 2, vec_id, CAST(rrf_ppm AS BIGINT),
           CAST(dq AS BIGINT), CAST(gain AS BIGINT) FROM s2
         UNION ALL SELECT 3, vec_id, CAST(rrf_ppm AS BIGINT),
           CAST(dq AS BIGINT), CAST(gain AS BIGINT) FROM s3
         ORDER BY sel_rank"""),
    // the (size desc, id) stripe replayed as ROW_NUMBER mod 8.
    QuerySpec("q_shard_assign", qShardAssign,
      """WITH r AS (SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk
           FROM documents)
         SELECT (rk - 1) % 8 AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
         FROM r GROUP BY 1 ORDER BY shard"""),
    // same fixed-width bucketing from the observed bounds, same
    // truncating ppm.
    QuerySpec("q_calibration", qCalibration,
      """WITH d AS (SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
         b AS (SELECT CAST(MIN(score) AS BIGINT) AS mn,
                      CAST(MAX(score) AS BIGINT) AS mx FROM d)
         SELECT LEAST((score - mn) * 10 // (mx - mn + 1), 9) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(score) AS BIGINT) AS sum_score,
           CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_ppm
         FROM d CROSS JOIN b GROUP BY 1 ORDER BY bucket"""),
    // BM25 fixed-point scores + exact micros distances, both ranked,
    // fused as integer reciprocal ranks — full replay of both lists.
    QuerySpec("q_rrf_fusion", qRrfFusion,
      """WITH toks AS (SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '[ \t\n\r]+'), t -> t <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(dl) AS BIGINT) AS s FROM dl),
         sc AS (SELECT tf.doc_id,
             (CAST(1000000 AS HUGEINT) * (2 * g.n - 2 * df.df + 1) * 22 * tf.tf * g.s)
               // ((2 * df.df + 1) * (CAST(10 AS HUGEINT) * g.s * tf.tf + 3 * g.s + 9 * dl.dl * g.n))
               AS score_ppm
           FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN g
           WHERE term IN ('vector', 'stream', 'window')),
         bm AS (SELECT doc_id, SUM(score_ppm) AS score FROM sc GROUP BY 1
                ORDER BY score DESC, doc_id LIMIT 20),
         lex AS (SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank FROM bm),
         m AS (SELECT vec_id, u.i - 1 AS dim,
             CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS micro
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         pq AS (SELECT dim, micro AS pm FROM m WHERE vec_id = 0),
         dq AS (SELECT m.vec_id, SUM((m.micro - pq.pm) * (m.micro - pq.pm)) AS dq
           FROM m JOIN pq USING (dim) WHERE m.vec_id <> 0 GROUP BY 1
           ORDER BY dq, vec_id LIMIT 20),
         sem AS (SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY dq, vec_id) AS sem_rank FROM dq)
         SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank,
           CAST(COALESCE(1000000 // (60 + lex_rank), 0)
              + COALESCE(1000000 // (60 + sem_rank), 0) AS BIGINT) AS rrf_ppm
         FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
         ORDER BY rrf_ppm DESC, doc_id LIMIT 10"""),
    // all four greedy MMR picks unrolled as CTE stages: each step's
    // argmax of (min separation to selected − relevance) in HUGEINT.
    QuerySpec("q_mmr_rerank", qMmrRerank,
      """WITH m AS (SELECT vec_id, u.i - 1 AS dim,
             CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS micro
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         pq AS (SELECT dim, micro AS pm FROM m WHERE vec_id = 0),
         dqall AS (SELECT m.vec_id, SUM((m.micro - pq.pm) * (m.micro - pq.pm)) AS dq
           FROM m JOIN pq USING (dim) WHERE m.vec_id <> 0 GROUP BY 1),
         pool AS (SELECT vec_id, dq FROM dqall ORDER BY dq, vec_id LIMIT 8),
         pm2 AS (SELECT m.vec_id, m.dim, m.micro FROM m
           JOIN pool USING (vec_id)),
         pd AS (SELECT a.vec_id AS i, b.vec_id AS j,
             SUM((a.micro - b.micro) * (a.micro - b.micro)) AS d
           FROM pm2 a JOIN pm2 b ON a.dim = b.dim AND a.vec_id <> b.vec_id
           GROUP BY 1, 2),
         s1 AS (SELECT vec_id, dq FROM pool ORDER BY dq, vec_id LIMIT 1),
         s2 AS (SELECT p.vec_id, p.dq, pd.d - p.dq AS gain
           FROM pool p JOIN pd ON pd.i = p.vec_id
             AND pd.j = (SELECT vec_id FROM s1)
           WHERE p.vec_id <> (SELECT vec_id FROM s1)
           ORDER BY gain DESC, p.vec_id LIMIT 1),
         s3 AS (SELECT p.vec_id, p.dq, MIN(pd.d) - p.dq AS gain
           FROM pool p JOIN pd ON pd.i = p.vec_id
             AND pd.j IN ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2))
           WHERE p.vec_id NOT IN ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2))
           GROUP BY p.vec_id, p.dq
           ORDER BY gain DESC, p.vec_id LIMIT 1),
         s4 AS (SELECT p.vec_id, p.dq, MIN(pd.d) - p.dq AS gain
           FROM pool p JOIN pd ON pd.i = p.vec_id
             AND pd.j IN ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2),
                          (SELECT vec_id FROM s3))
           WHERE p.vec_id NOT IN ((SELECT vec_id FROM s1),
             (SELECT vec_id FROM s2), (SELECT vec_id FROM s3))
           GROUP BY p.vec_id, p.dq
           ORDER BY gain DESC, p.vec_id LIMIT 1)
         SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id,
           CAST(dq AS BIGINT) AS dist_q, CAST(NULL AS BIGINT) AS gain FROM s1
         UNION ALL SELECT 2, vec_id, CAST(dq AS BIGINT), CAST(gain AS BIGINT) FROM s2
         UNION ALL SELECT 3, vec_id, CAST(dq AS BIGINT), CAST(gain AS BIGINT) FROM s3
         UNION ALL SELECT 4, vec_id, CAST(dq AS BIGINT), CAST(gain AS BIGINT) FROM s4
         ORDER BY sel_rank"""),
    // exact integer-micros distances + the (dist, id) struct-min
    // replayed as a ROW_NUMBER pick in HUGEINT space.
    QuerySpec("q_hard_negatives", qHardNegatives,
      """WITH m AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
             u.i - 1 AS dim,
             CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS micro
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         p AS (SELECT vec_id AS probe_id, label AS probe_label, dim,
             micro AS pm FROM m WHERE vec_id < 10),
         d AS (SELECT p.probe_id, p.probe_label, m.vec_id,
             SUM((m.micro - p.pm) * (m.micro - p.pm)) AS dist_sq
           FROM m JOIN p ON m.dim = p.dim AND m.label <> p.probe_label
           GROUP BY 1, 2, 3),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             ORDER BY dist_sq, vec_id) AS rk FROM d)
         SELECT probe_id, probe_label, vec_id AS neg_id,
           CAST(dist_sq AS BIGINT) AS dist_sq
         FROM r WHERE rk = 1 ORDER BY probe_id"""),
    // the C8 stopword-argmax lang-id replayed per half, same integer
    // midpoint split and same injected French tail on doc_id % 3 = 0.
    QuerySpec("q_code_switch", qCodeSwitch,
      """WITH base AS (SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0 THEN text ||
               ' le la les des est et une dans que pour pas vous'
             ELSE text END AS mixed
           FROM documents),
         halves AS (
           SELECT doc_id, source, 1 AS part,
             substring(mixed, 1, CAST(len(mixed) // 2 AS INTEGER)) AS t
           FROM base
           UNION ALL
           SELECT doc_id, source, 2,
             substring(mixed, CAST(len(mixed) // 2 AS INTEGER) + 1)
           FROM base),
         toks AS (SELECT doc_id, source, part,
             list_filter(string_split_regex(lower(t), '[^a-z0-9_]+'),
               x -> x <> '') AS ts
           FROM halves),
         h AS (SELECT doc_id, source, part,
             len(list_filter(ts, t -> list_contains(['the','and','of','to','is','in','that','it','with','for','this','are'], t))) AS en,
             len(list_filter(ts, t -> list_contains(['le','la','les','des','est','et','une','dans','que','pour','pas','vous'], t))) AS fr,
             len(list_filter(ts, t -> list_contains(['el','los','las','es','y','una','que','en','por','para','con','su'], t))) AS es,
             len(list_filter(ts, t -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','für','auf','ich'], t))) AS de
           FROM toks),
         pred AS (SELECT doc_id, source, part, CASE
             WHEN en = 0 AND fr = 0 AND es = 0 AND de = 0 THEN 'und'
             WHEN en >= fr AND en >= es AND en >= de THEN 'en'
             WHEN fr >= es AND fr >= de THEN 'fr'
             WHEN es >= de THEN 'es'
             ELSE 'de' END AS lang_pred
           FROM h)
         SELECT doc_id, ANY_VALUE(source) AS source,
           MAX(CASE WHEN part = 1 THEN lang_pred END) AS lang_head,
           MAX(CASE WHEN part = 2 THEN lang_pred END) AS lang_tail,
           (MAX(CASE WHEN part = 1 THEN lang_pred END) <>
              MAX(CASE WHEN part = 2 THEN lang_pred END)
            AND MAX(CASE WHEN part = 1 THEN lang_pred END) <> 'und'
            AND MAX(CASE WHEN part = 2 THEN lang_pred END) <> 'und')
             AS is_switch
         FROM pred GROUP BY doc_id ORDER BY doc_id"""),
    // the C10 whitespace tokenization + (freq desc, term) ranking +
    // integer 90% threshold (cum*10 >= total*9) replayed exactly.
    QuerySpec("q_vocab_coverage", qVocabCoverage,
      """WITH tk AS (SELECT source, t AS tok FROM (
             SELECT source,
               list_filter(regexp_split_to_array(text, '[ \t\n\r]+'),
                 x -> x <> '') AS ts
             FROM documents), UNNEST(ts) AS u(t)),
         tf AS (SELECT source, tok, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
         tot AS (SELECT source, SUM(cnt) AS n_tokens, COUNT(*) AS n_terms
           FROM tf GROUP BY 1),
         r AS (SELECT source, tok, cnt,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, tok) AS rnk,
             SUM(cnt) OVER (PARTITION BY source ORDER BY cnt DESC, tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM tf)
         SELECT r.source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_terms AS BIGINT) AS n_terms,
           CAST(MIN(CASE WHEN cum * 10 >= n_tokens * 9 THEN rnk END) AS BIGINT) AS vocab90,
           CAST(SUM(CASE WHEN rnk <= 100 THEN cnt ELSE 0 END) * 1000000
             // MAX(n_tokens) AS BIGINT) AS top100_ppm
         FROM r JOIN tot ON r.source = tot.source
         GROUP BY r.source, n_tokens, n_terms ORDER BY r.source"""),
    // the whole bigram model replayed: train-half counts, per-bigram
    // CASE between the seen branch and the stupid-backoff branch.
    QuerySpec("q_bigram_surprisal", qBigramSurprisal,
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[\x00-\x2f\x3a-\x40\x5b-\x5e\x60\x7b-\x7f]+'), t -> t <> '') AS ts
           FROM documents),
         pairs AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
           FROM w, UNNEST(range(1, len(ts))) AS u(i)),
         tr AS (SELECT * FROM w WHERE doc_id % 2 = 0),
         trtok AS (SELECT unnest(ts) AS w FROM tr),
         uni AS (SELECT w, COUNT(*) AS cu FROM trtok GROUP BY 1),
         bic AS (SELECT ts[i] AS w1, ts[i + 1] AS w2, COUNT(*) AS cb
           FROM tr, UNNEST(range(1, len(ts))) AS u(i) GROUP BY 1, 2),
         tot AS (SELECT length(bin(COUNT(*))) AS bits_n FROM trtok),
         scored AS (SELECT p.doc_id,
             CASE WHEN bic.cb IS NOT NULL
                  THEN length(bin(u1.cu)) - length(bin(bic.cb))
                  ELSE 1 + tot.bits_n - COALESCE(length(bin(u2.cu)), 0) END AS s
           FROM pairs p
           LEFT JOIN uni u1 ON p.w1 = u1.w
           LEFT JOIN bic ON p.w1 = bic.w1 AND p.w2 = bic.w2
           LEFT JOIN uni u2 ON p.w2 = u2.w
           CROSS JOIN tot)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(s) AS BIGINT) AS surprisal_sum,
           CAST(SUM(s) * 1000 // COUNT(*) AS BIGINT) AS surprisal_milli
         FROM scored GROUP BY 1 ORDER BY 1"""),
  )
}
