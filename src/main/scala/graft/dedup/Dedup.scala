package graft.dedup

import graft.functions.expressions.{hashJaccard, minhashSig, wordShingleHashes}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Document deduplication operators for training-data pipelines.
 *
 * Every near-dup variant follows one scale shape, and each step of it
 * is one private function here, shared with
 * [[graft.pipelines.CorpusAssembly]], [[graft.operators.Linkage]] and
 * [[graft.operators.Fuzzy]]:
 *  1. a cheap per-row signature (codegen'd, one scan — [[spread]]
 *     first, so a few-file input does not run it on a few cores);
 *  2. blocking keys exploded per row (MinHash bands from
 *     [[bandExplode]], shingle anchors, hyperplane bands, deletion
 *     keys, bigrams) and ONE self-join on them, [[selfPairs]]: it
 *     shuffles only (key, id) rows — never text — and dedups the
 *     pairs before the verify;
 *  3. the payload joined back once per deduped pair,
 *     [[withPayload]], for an exact verify inside the blocks only;
 *  4. keep-first, [[keepFirst]]: a document survives iff it has no
 *     verified duplicate with a smaller id — one hop, not transitive
 *     closure, the standard corpus-dedup semantics. Exact copies
 *     collapse to their min-id representative first (one hash
 *     aggregate) and only representatives reach steps 2–3, so mass
 *     duplication — the dominant skew of crawled corpora — never
 *     becomes a quadratic in-bucket pair blowup. An exact copy is a
 *     jaccard-1.0 near-dup of its representative, so the layering
 *     equals keep-first over the whole corpus.
 *
 * The quadratic all-pairs comparison is never materialized.
 */
object Dedup {

  /** Exact dedup by content hash: one hash-aggregate shuffle. Returns
   * (key, keep_id, n_copies). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol).cast("binary")).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Spread rows across the cluster before a CPU-heavy per-row stage:
   * a few-file input must not serialize signature computation onto a
   * handful of cores. Conditional — an input that is already parallel
   * enough (the 100 TB case) is left untouched, no gratuitous shuffle. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val target = df.sparkSession.sparkContext.defaultParallelism
    // A many-file input is already parallel — the 100 TB case exits
    // here and never pays a probe or a shuffle.
    if (df.inputFiles.length >= target) return df
    // Plan-side probe: any of these nodes GUARANTEES a repartitioning
    // exchange under us, so the input is already spread across
    // spark.sql.shuffle.partitions. Joins don't qualify — a broadcast
    // hash join preserves the streamed side's few-file partitioning —
    // and a Window only repartitions when it has partition keys
    // (empty partitionBy coalesces to ONE partition, the opposite).
    val definitelyShuffled = df.queryExecution.analyzed.find {
      case w: Window => w.partitionSpec.nonEmpty
      case _: Aggregate | _: Sort | _: Distinct | _: Deduplicate |
           _: RepartitionOperation => true
      case _ => false
    }.isDefined
    if (definitelyShuffled) df
    else {
      // Ambiguous lineage (scan/filter/project, possibly through
      // broadcast-able joins): estimate the scan's split count from
      // file sizes, mirroring FilePartition packing (large files split
      // at maxPartitionBytes). This is execution-free — probing
      // toRdd.getNumPartitions here would make AQE materialize every
      // query stage under the subtree eagerly, and a subsequent
      // repartition would then re-execute all of it. Stats are cheap:
      // this branch only runs when inputFiles.length < target.
      val maxBytes = math.max(1L,
        df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
      val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
      val splits = df.inputFiles.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val len = try p.getFileSystem(hadoopConf).getFileStatus(p).getLen
        catch { case _: java.io.IOException => 0L } // unreadable → assume small
        math.max(1L, (len + maxBytes - 1) / maxBytes)
      }.sum
      if (splits >= target) df else df.repartition(target)
    }
  }

  // --- The shared steps (object doc) --------------------------------------

  /** Distinct pairs (id_a, id_b), id_a < id_b, of `keyed` rows that
   * share every column of `keys` (step 2). The join shuffles whatever
   * `keyed` carries, so it should hold only `id` and `keys`; a join
   * hint on `keyed` applies to both sides. */
  private[graft] def selfPairs(keyed: DataFrame, id: String, keys: Seq[String]): DataFrame =
    keyed.as("a").join(keyed.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct() // a pair can share several keys

  /** MinHash LSH keys of a (doc_id, sh) frame: (doc_id, band_idx,
   * band_hash) rows, ids only. Shingle-less docs (fewer than the
   * shingle width of tokens) band with nobody: they have no near-dup
   * relation, and their all-sentinel signatures would otherwise collide
   * every degenerate doc into one band bucket (a quadratic skew bomb
   * on a crawled corpus). */
  private def bandExplode(shingled: DataFrame, numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val r = numPerm / bands
    shingled.filter(size(col("sh")) > 0)
      .select(col("doc_id"), minhashSig(col("sh"), numPerm).as("sig"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * r + 1, lit(r))))))
      .withColumnsRenamed(Map("pos" -> "band_idx", "col" -> "band_hash"))
  }

  /** Join the payload back onto deduped pairs for the verify (step 3):
   * `payload` holds (`id`, `value`); adds `<value>_a` and `<value>_b`. */
  private[graft] def withPayload(pairs: DataFrame, payload: DataFrame,
      id: String, value: String): DataFrame =
    pairs
      .join(payload.select(col(id).as("id_a"), col(value).as(s"${value}_a")), Seq("id_a"))
      .join(payload.select(col(id).as("id_b"), col(value).as(s"${value}_b")), Seq("id_b"))

  /** Layered keep-first (step 4). `kills` receives the representatives
   * as (doc_id, text, text_md5) and returns one `dead_rep` row per
   * verified smaller-id duplicate of a representative. Returns
   * (doc_id, `nCol`, keep): `nCol` counts the duplicate sources with a
   * smaller id — the exact representative, if this doc is a copy, plus
   * its representative's kills. NULL text counts as '', so NULL-text
   * docs dedup against each other instead of silently vanishing (NULL
   * never equi-joins back to its representative). */
  private def keepFirst(docs: DataFrame, idCol: String, textCol: String, nCol: String)(
      kills: DataFrame => DataFrame): DataFrame = {
    val keyed = docs.select(col(idCol).as("doc_id"),
        coalesce(col(textCol), lit("")).as("text"))
      .withColumn("__tkey", md5(col("text").cast("binary")))
    val reps = keyed.groupBy("__tkey")
      .agg(min("doc_id").as("rep_id"), first("text").as("text"))
    val dead = kills(reps.select(col("rep_id").as("doc_id"), col("text"),
        col("__tkey").as("text_md5")))
      .groupBy("dead_rep").agg(count(lit(1)).as("__n_kill"))
    keyed
      .join(reps.select("__tkey", "rep_id"), Seq("__tkey"))
      .join(dead, col("rep_id") === col("dead_rep"), "left")
      .select(col("doc_id"),
        (when(col("doc_id") =!= col("rep_id"), 1L).otherwise(0L) +
          coalesce(col("__n_kill"), lit(0L))).as(nCol),
        (col("doc_id") === col("rep_id") && col("__n_kill").isNull).as("keep"))
  }

  // --- MinHash + LSH ------------------------------------------------------

  /** MinHash+LSH near-dup candidates: bands self-joined, verified by
   * the n-gram Jaccard of the shingle-hash sets. Returns distinct
   * (id_a < id_b, jaccard). */
  def minhashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numPerm: Int = 64, bands: Int = 16): DataFrame = {
    val sh = minhashState(docs, idCol, textCol, shingleWords)
    withPayload(selfPairs(bandExplode(sh, numPerm, bands), "doc_id",
        Seq("band_idx", "band_hash")), sh, "doc_id", "sh")
      .select(col("id_a"), col("id_b"),
        hashJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** Keep-table for MinHash near-dup dedup at a Jaccard threshold:
   * (doc_id, n_dups_smaller, keep). */
  def minhashKeep(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleWords: Int = 3,
      numPerm: Int = 64, bands: Int = 16): DataFrame =
    keepFirst(docs, idCol, textCol, "n_dups_smaller") { reps =>
      minhashCandidates(reps, "doc_id", "text", shingleWords, numPerm, bands)
        .filter(col("jaccard") >= threshold)
        .select(col("id_b").as("dead_rep"))
    }

  // --- Incremental (cross-batch) MinHash dedup ----------------------------

  /** Text-free dedup state for incremental corpus assembly: one row
   * per document EVER SEEN — survivors AND casualties, because the
   * one-hop keep-first rule kills a later doc on a match with ANY
   * smaller-id doc, dead or alive — holding the shingle-hash set `sh`
   * and the exact-text key `text_md5` (NULL text counts as ''), never
   * the text. Union each increment's state onto the previous one. The
   * (doc_id, sh) columns are also the shingling of
   * [[minhashCandidates]] and [[containmentPairs]]. */
  def minhashState(docs: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    spread(docs).select(col(idCol).as("doc_id"),
      wordShingleHashes(text, shingleWords).as("sh"),
      md5(text.cast("binary")).as("text_md5"))
  }

  /**
   * Dedup a NEW batch against an existing corpus WITHOUT rescanning
   * it — the daily-increment shape of corpus assembly at 100 TB: the
   * existing corpus is represented only by its [[minhashState]], and
   * the new batch is deduped within itself AND against the state.
   * Cross-generation candidates share a band or the exact-text key (a
   * shingle-less doc never bands, yet [[minhashKeep]] kills its exact
   * copies), and a candidate kills when its texts are equal or its
   * Jaccard reaches the threshold. Only SMALLER-id state partners
   * kill, so state and batch ids may interleave (an id-10 state doc
   * must not kill an id-5 newcomer; under keep-first the newcomer wins
   * that pair).
   *
   * The `keep` column is EXACTLY what [[minhashKeep]] over state ∪
   * batch assigns the new docs — the equivalence `q_dedup_incremental`
   * re-proves on every run. `n_dups_smaller` counts each killing state
   * doc, where the full run counts exact-collapsed representatives, so
   * the counts can differ when the state holds exact copies. What an
   * increment can never do is revisit the STATE side's own keep
   * decisions — retiring an old doc in favor of a smaller-id newcomer
   * is a rebuild, by construction. Returns (doc_id, n_dups_smaller,
   * keep) for the new batch.
   */
  def minhashKeepIncremental(
      state: DataFrame, newDocs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleWords: Int = 3,
      numPerm: Int = 64, bands: Int = 16): DataFrame = {
    require(state.columns.contains("text_md5"),
      "minhashKeepIncremental: the state has no text_md5 column, so exact copies of its " +
        "shingle-less docs would survive — rebuild it with minhashState")
    keepFirst(newDocs, idCol, textCol, "n_dups_smaller") { reps =>
      val repSh = reps.select(col("doc_id"),
        wordShingleHashes(col("text"), shingleWords).as("sh"), col("text_md5"))
      val cand = bandExplode(repSh, numPerm, bands)
        .join(bandExplode(state, numPerm, bands)
          .withColumnsRenamed(Map("doc_id" -> "old_id")), Seq("band_idx", "band_hash"))
        .select(col("doc_id"), col("old_id"))
        .unionAll(repSh.join(state.select(col("doc_id").as("old_id"), col("text_md5")),
            Seq("text_md5"))
          .select(col("doc_id"), col("old_id")))
        .filter(col("old_id") < col("doc_id"))
        .distinct()
      val crossKills = cand
        .join(repSh.select(col("doc_id"), col("sh").as("sh_new"),
          col("text_md5").as("md5_new")), Seq("doc_id"))
        .join(state.select(col("doc_id").as("old_id"), col("sh").as("sh_old"),
          col("text_md5").as("md5_old")), Seq("old_id"))
        .filter(col("md5_new") === col("md5_old") ||
          hashJaccard(col("sh_new"), col("sh_old")) >= threshold)
        .select(col("doc_id").as("dead_rep"))
      val withinKills = minhashCandidates(reps, "doc_id", "text", shingleWords, numPerm, bands)
        .filter(col("jaccard") >= threshold)
        .select(col("id_b").as("dead_rep"))
      withinKills.unionAll(crossKills)
    }
  }

  // --- SimHash ------------------------------------------------------------

  /** Per-doc 64-bit SimHash over word tokens — single codegen'd
   * expression that tokenizes internally (the split+filter token-array
   * formulation runs interpreted). */
  def simhashOf(text: Column): Column =
    graft.functions.expressions.simhashText(text)

  /**
   * SimHash near-dup pairs at Hamming distance ≤ maxHamming:
   * pigeonhole on maxHamming+1 blocks — two signatures differing in at
   * most maxHamming bits must agree exactly on at least one block
   * (even with diffs in the uncovered high bits, which only reduces
   * diffs among covered blocks). Verify is a popcount on the XOR.
   * A doc with no word token (empty, NULL, punctuation-only) has no
   * signature to compare — SimHash 0 would pair every such doc with
   * every other at Hamming 0 — so it stays out of the block join and
   * pairs with nothing, as MinHash bands no shingle-less doc; in
   * [[simhashKeep]] only the exact layer applies to it.
   */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    val nBlocks = maxHamming + 1
    val blockBits = math.max(64 / nBlocks, 1)
    val mask = if (blockBits >= 64) -1L else (1L << blockBits) - 1
    // a word token exists iff some char is outside the tokenizer's
    // ASCII separator class (the oracle's split class)
    val sig = spread(docs)
      .filter(col(textCol).rlike("[^\\x00-\\x2f\\x3a-\\x40\\x5b-\\x5e\\x60\\x7b-\\x7f]"))
      .select(col(idCol).as("doc_id"), simhashOf(col(textCol)).as("sim"))
    val blocked = sig.select(col("doc_id"), col("sim"),
      posexplode(array((0 until nBlocks).map(i =>
        shiftrightunsigned(col("sim"), i * blockBits).bitwiseAND(lit(mask))): _*)))
      .withColumnsRenamed(Map("pos" -> "block_idx", "col" -> "block_val"))
    val a = blocked.select(col("block_idx"), col("block_val"),
      col("doc_id").as("id_a"), col("sim").as("sim_a"))
    val b = blocked.select(col("block_idx"), col("block_val"),
      col("doc_id").as("id_b"), col("sim").as("sim_b"))
    a.join(b, Seq("block_idx", "block_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(first("hamming").as("hamming"))
  }

  /** Keep-table for SimHash dedup: (doc_id, n_dups_smaller, keep). */
  def simhashKeep(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    keepFirst(docs, idCol, textCol, "n_dups_smaller") { reps =>
      simhashPairs(reps, "doc_id", "text", maxHamming).select(col("id_b").as("dead_rep"))
    }

  // --- Containment (asymmetric near-dup: near-subset documents) -----------

  /**
   * Containment near-dup pairs: documents whose shingle set is
   * ≥ `threshold` contained in another document's (near-subsets —
   * boilerplate-wrapped copies, quoted articles, page-of-a-book).
   *
   * Candidate generation: ANCHOR SAMPLING, not MinHash banding —
   * MinHash estimates Jaccard, and a genuine containment pair can sit
   * at arbitrarily low Jaccard, so Jaccard-banding would structurally
   * miss exactly the pairs this operator exists to find. Each doc
   * emits the deterministic 1/`anchorRate` subsample of its shingle
   * hashes (hash ≡ 0 mod rate) as join keys: a pair with intersection
   * size I shares an anchor with probability 1−(1−1/rate)^I — near 1
   * for any contained doc of ≥ a few dozen shingles. Anchors occurring
   * in more than `maxAnchorDf` docs are boilerplate (uninformative and
   * quadratic in the bucket) and are pruned — the documented recall
   * trade, same df-bound pattern as the inverted index.
   *
   * The key shuffle carries |shingles|/rate (anchor, id) rows per doc.
   * Output: ordered pairs (id_a contained in id_b) with the exact
   * containment and both set sizes.
   */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, shingleWords: Int = 3,
      anchorRate: Int = 8, maxAnchorDf: Long = 1000L): DataFrame = {
    require(anchorRate >= 1, s"anchorRate must be >= 1, got $anchorRate")
    val sh = minhashState(docs, idCol, textCol, shingleWords)
    // explode-then-filter stays codegen'd (Generate + codegen'd pmod);
    // a higher-order filter over the array would run interpreted
    val anchors = sh
      .select(col("doc_id"), explode(col("sh")).as("anchor"))
      .filter(pmod(col("anchor"), lit(anchorRate.toLong)) === 0L)
    val rare = anchors.groupBy("anchor")
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxAnchorDf)
      .select("anchor")
    val verified = withPayload(
        selfPairs(anchors.join(rare, Seq("anchor")), "doc_id", Seq("anchor")),
        sh, "doc_id", "sh")
      .select(col("id_a"), col("id_b"),
        graft.functions.expressions.hashContainment(col("sh_a"), col("sh_b")).as("c_ab"),
        graft.functions.expressions.hashContainment(col("sh_b"), col("sh_a")).as("c_ba"),
        size(col("sh_a")).cast("long").as("sz_a"), size(col("sh_b")).cast("long").as("sz_b"))
    // containment is asymmetric: each unordered candidate can emit up
    // to two ordered (contained, container) rows
    verified.filter(col("c_ab") >= threshold)
      .select(col("id_a"), col("id_b"), col("c_ab").as("containment"),
        col("sz_a"), col("sz_b"))
      .unionAll(verified.filter(col("c_ba") >= threshold)
        .select(col("id_b").as("id_a"), col("id_a").as("id_b"),
          col("c_ba").as("containment"), col("sz_b").as("sz_a"), col("sz_a").as("sz_b")))
  }

  /**
   * Keep-table for containment dedup: a document dies iff some
   * CONTAINER beats it — containment(A in B) ≥ threshold and B is
   * strictly larger (by shingle-set size), or equal-sized with a
   * smaller id. The (size desc, id asc) order is total and strict, so
   * the kill relation is acyclic and every containment chain's maximal
   * document survives — "keep the superset", the containment analog of
   * keep-first. An exact copy's container is its representative
   * (containment 1.0, equal size, smaller id). Returns (doc_id,
   * n_containers, keep).
   */
  def containmentKeep(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, shingleWords: Int = 3,
      anchorRate: Int = 8, maxAnchorDf: Long = 1000L): DataFrame =
    keepFirst(docs, idCol, textCol, "n_containers") { reps =>
      containmentPairs(reps, "doc_id", "text", threshold, shingleWords,
          anchorRate, maxAnchorDf)
        .filter(col("sz_b") > col("sz_a") ||
          (col("sz_b") === col("sz_a") && col("id_b") < col("id_a")))
        .select(col("id_a").as("dead_rep"))
    }

  // --- n-gram Jaccard (direct pair verify) --------------------------------

  /** Word n-gram Jaccard similarity between two text columns — the
   * exact verify used on candidate pairs from any blocking scheme.
   * Hash-space comparison (codegen'd merge over sorted hash sets). */
  def ngramJaccard(textA: Column, textB: Column, n: Int = 3): Column =
    hashJaccard(wordShingleHashes(textA, n), wordShingleHashes(textB, n))

  // --- Embedding cosine near-dup ------------------------------------------

  /** Cosine similarity of two vector columns in double precision
   * (codegen'd expression — the higher-order zip_with/aggregate
   * formulation runs interpreted). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.cosineSim(a, b)

  /** Random-hyperplane signature: one sign bit per plane packed into a
   * long. Planes are a fixed seeded pseudo-random matrix embedded in a
   * single codegen'd expression — no shuffle, one pass per row. */
  def hyperplaneSignature(vec: Column, dim: Int, numPlanes: Int = 16, seed: Long = 0x9e37L): Column = {
    require(numPlanes > 0 && numPlanes <= 64,
      s"numPlanes must be in [1, 64] (sign bits pack into one long), got $numPlanes")
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(numPlanes * dim)(rnd.nextGaussian())
    graft.functions.expressions.hyperplaneSig(vec, planes, dim)
  }

  /** Split a packed signature into bands of `bandBits` bits — the
   * banding knob trades candidate-set size (cost) for recall: narrow
   * bands collide more (higher recall, more verifies). */
  def signatureBands(sig: Column, numPlanes: Int, bandBits: Int): Column = {
    require(numPlanes % bandBits == 0, "bandBits must divide numPlanes")
    val mask = (1L << bandBits) - 1
    array((0 until numPlanes / bandBits).map(b =>
      shiftrightunsigned(sig, b * bandBits).bitwiseAND(lit(mask))): _*)
  }

  /**
   * Embedding near-dup pairs: bucket by hyperplane-signature bands
   * (pigeonhole: near-identical vectors agree on almost all sign bits,
   * so some band matches with near-certainty), verify cosine ≥
   * threshold inside buckets.
   */
  def embeddingPairs(
      vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.95,
      numPlanes: Int = 16, bandBits: Int = 4): DataFrame = {
    val base = spread(vecs).select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val banded = base
      .select(col("vec_id"),
        posexplode(signatureBands(
          hyperplaneSignature(col("v"), dim, numPlanes), numPlanes, bandBits)))
      .withColumnsRenamed(Map("pos" -> "band_idx", "col" -> "band_val"))
    withPayload(selfPairs(banded, "vec_id", Seq("band_idx", "band_val")), base, "vec_id", "v")
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Keep-table for embedding near-dup: (vec_id, n_dups_smaller, keep). */
  def embeddingKeep(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.95): DataFrame = {
    val dups = embeddingPairs(vecs, idCol, vecCol, dim, threshold)
      .groupBy(col("id_b").as("dup_id")).agg(count(lit(1)).as("n_dups_smaller"))
    vecs.select(col(idCol).as("vec_id"))
      .join(dups, col("vec_id") === col("dup_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_dups_smaller"), lit(0L)).as("n_dups_smaller"),
        col("n_dups_smaller").isNull.as("keep"))
  }
}
