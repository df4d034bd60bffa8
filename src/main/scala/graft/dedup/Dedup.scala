package graft.dedup

import graft.functions.expressions.{hashJaccard, minhashSig, wordShingleHashes}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Document deduplication operators for training-data pipelines.
 *
 * Every near-dup variant follows the same scale shape: a cheap per-row
 * signature (codegen'd, one scan), a candidate-generation step that
 * shuffles only (bucket-key, doc-id) pairs — never text — and an exact
 * verify that runs only inside buckets. The quadratic all-pairs
 * comparison is never materialized; worst-case bucket skew (many
 * identical docs) is bounded because identical signatures verify
 * trivially and the keep-rule only needs the min id per bucket.
 *
 * Keep rule everywhere: a document survives iff it has no verified
 * duplicate with a smaller id ("keep first occurrence") — this needs
 * one hop, not transitive closure, and is the standard corpus-dedup
 * semantics.
 */
object Dedup {

  /** Exact dedup by content hash: one hash-aggregate shuffle. Returns
   * (key, keep_id, n_copies). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol).cast("binary")).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // --- MinHash + LSH ------------------------------------------------------

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

  /**
   * MinHash+LSH near-dup candidates: signature → bands → explode →
   * self-join per (band index, band hash). Returns distinct candidate
   * pairs (id_a < id_b) with their n-gram Jaccard similarity computed
   * from the shingle-hash sets (the exact verify).
   */
  def minhashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numPerm: Int = 64, bands: Int = 16): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val r = numPerm / bands
    val base = spread(docs).select(col(idCol).as("doc_id"),
      coalesce(col(textCol), lit("")).as("text"))
    // candidate generation shuffles ONLY (band, hash, id) — the
    // shingle sets would multiply shuffle volume by the band count.
    // Shingle-less docs (< shingleWords tokens) are excluded up
    // front: they have no near-dup relation, and their all-sentinel
    // signatures would otherwise collide every degenerate doc into
    // one band bucket (a quadratic skew bomb on a crawled corpus).
    val banded = base
      .filter(size(wordShingleHashes(col("text"), shingleWords)) > 0)
      .select(col("doc_id"),
        minhashSig(wordShingleHashes(col("text"), shingleWords), numPerm).as("sig"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * r + 1, lit(r))))))
      .withColumnsRenamed(Map("pos" -> "band_idx", "col" -> "band_hash"))
    val pairs = banded.as("a")
      .join(banded.as("b"), Seq("band_idx", "band_hash"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct() // dedup across bands BEFORE the (heavier) verify
    // verify: join the (few) candidate pairs back to their texts and
    // compute the exact jaccard once per pair
    pairs
      .join(base.select(col("doc_id").as("id_a"),
        wordShingleHashes(col("text"), shingleWords).as("sh_a")), Seq("id_a"))
      .join(base.select(col("doc_id").as("id_b"),
        wordShingleHashes(col("text"), shingleWords).as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        hashJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /**
   * Layered keep-first dedup: collapse EXACT duplicates to their
   * min-id representative first (one hash aggregate), then run the
   * near-dup pair generator only over representatives, and compose the
   * keep rule. Equivalent to keep-first over the full corpus (an exact
   * copy is a jaccard-1.0 near-dup of its representative) but immune
   * to the quadratic in-bucket pair blowup that mass-duplicated
   * documents cause — the dominant skew in real crawled corpora.
   *
   * `repPairs` receives the representatives as (doc_id, text) and
   * returns verified duplicate pairs (id_a < id_b).
   */
  private def keepFirstLayered(
      docs: DataFrame, idCol: String, textCol: String)(
      repPairs: DataFrame => DataFrame): DataFrame = {
    // NULL text → '' so null-text docs dedup against each other instead
    // of silently vanishing (NULL never equi-joins back to its rep)
    val keyed = docs.select(col(idCol).as("doc_id"),
        coalesce(col(textCol), lit("")).as("text"))
      .withColumn("__tkey", md5(col("text").cast("binary")))
    val reps = keyed.groupBy("__tkey")
      .agg(min("doc_id").as("rep_id"), first("text").as("text"))
    val dead = repPairs(reps.select(col("rep_id").as("doc_id"), col("text")))
      .groupBy(col("id_b").as("dead_rep"))
      .agg(count(lit(1)).as("__n_near"))
    keyed
      .join(reps.select("__tkey", "rep_id"), Seq("__tkey"))
      .join(dead, col("rep_id") === col("dead_rep"), "left")
      .select(col("doc_id"),
        // duplicate SOURCES with smaller id: the exact representative
        // (if this is a copy) plus near-dup representatives
        (when(col("doc_id") =!= col("rep_id"), 1L).otherwise(0L) +
          coalesce(col("__n_near"), lit(0L))).as("n_dups_smaller"),
        (col("doc_id") === col("rep_id") && col("__n_near").isNull).as("keep"))
  }

  /** Keep-table for MinHash near-dup dedup at a Jaccard threshold:
   * (doc_id, n_dups_smaller, keep) — layered (exact collapse first). */
  def minhashKeep(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleWords: Int = 3,
      numPerm: Int = 64, bands: Int = 16): DataFrame =
    keepFirstLayered(docs, idCol, textCol) { reps =>
      minhashCandidates(reps, "doc_id", "text", shingleWords, numPerm, bands)
        .filter(col("jaccard") >= threshold)
    }

  // --- Incremental (cross-batch) MinHash dedup ----------------------------

  /** Text-free dedup state for incremental corpus assembly: one row
   * per document EVER SEEN — survivors AND casualties, because the
   * one-hop keep-first rule kills a later doc on a match with ANY
   * smaller-id doc, dead or alive — holding only the shingle-hash
   * set (the text never needs to be carried between increments).
   * Union each increment's state onto the previous one. */
  def minhashState(docs: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3): DataFrame =
    spread(docs).select(col(idCol).as("doc_id"),
      wordShingleHashes(coalesce(col(textCol), lit("")), shingleWords).as("sh"))

  /** Band-explode a (doc_id, sh) state frame: (band_idx, band_hash,
   * doc_id) rows — the LSH join key stream, ids only. */
  private def bandExplode(state: DataFrame, numPerm: Int, bands: Int): DataFrame = {
    val r = numPerm / bands
    // shingle-less docs band with nobody (see minhashCandidates)
    state.filter(size(col("sh")) > 0)
      .select(col("doc_id"), minhashSig(col("sh"), numPerm).as("sig"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * r + 1, lit(r))))))
      .withColumnsRenamed(Map("pos" -> "band_idx", "col" -> "band_hash"))
  }

  /**
   * Dedup a NEW batch against an existing corpus WITHOUT rescanning
   * it — the daily-increment shape of corpus assembly at 100 TB: the
   * existing corpus is represented only by its [[minhashState]]
   * (text-free shingle sets), the new batch is deduped within itself
   * (keep-first, layered exact-collapse) AND against the state via
   * the same banded LSH + exact-Jaccard verify.
   *
   * The result is EXACTLY the keep-table full-batch [[minhashKeep]]
   * would assign the new docs if run over state ∪ batch — the
   * equivalence `q_dedup_incremental` re-proves on every run. Cross-
   * generation kills are filtered to smaller-id state partners, so
   * this holds even when state and batch ids interleave (an id-10
   * state doc must not kill an id-5 newcomer; under keep-first the
   * newcomer wins that pair). What an increment can never do is
   * revisit the STATE side's own keep decisions — retiring an old doc
   * in favor of a smaller-id newcomer is a rebuild, by construction.
   * Returns (doc_id, n_dups_smaller, keep) for the new batch.
   */
  def minhashKeepIncremental(
      state: DataFrame, newDocs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleWords: Int = 3,
      numPerm: Int = 64, bands: Int = 16): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val keyed = newDocs.select(col(idCol).as("doc_id"),
        coalesce(col(textCol), lit("")).as("text"))
      .withColumn("__tkey", md5(col("text").cast("binary")))
    val reps = keyed.groupBy("__tkey")
      .agg(min("doc_id").as("rep_id"), first("text").as("text"))
    val repSh = reps.select(col("rep_id").as("doc_id"),
      wordShingleHashes(col("text"), shingleWords).as("sh"))

    val nBand = bandExplode(repSh, numPerm, bands)
    // cross-generation candidates: ids-only shuffle, sets join back
    // per pair; only SMALLER-id state partners kill (keep-first), so
    // id interleaving between generations cannot misdrop a newcomer
    val crossCand = nBand.join(
        bandExplode(state, numPerm, bands)
          .withColumnsRenamed(Map("doc_id" -> "old_id")),
        Seq("band_idx", "band_hash"))
      .filter(col("old_id") < col("doc_id"))
      .select(col("doc_id"), col("old_id")).distinct()
    val crossKills = crossCand
      .join(repSh.select(col("doc_id"), col("sh").as("sh_new")), Seq("doc_id"))
      .join(state.select(col("doc_id").as("old_id"), col("sh").as("sh_old")), Seq("old_id"))
      .filter(hashJaccard(col("sh_new"), col("sh_old")) >= threshold)
      .groupBy(col("doc_id").as("dead_rep")).agg(count(lit(1)).as("n_cross"))
    // within-batch keep-first over the representatives
    val withinKills = minhashCandidates(
        reps.select(col("rep_id").as("doc_id"), col("text")),
        "doc_id", "text", shingleWords, numPerm, bands)
      .filter(col("jaccard") >= threshold)
      .groupBy(col("id_b").as("dead_rep")).agg(count(lit(1)).as("n_within"))
    keyed
      .join(reps.select("__tkey", "rep_id"), Seq("__tkey"))
      .join(crossKills.select(col("dead_rep").as("xr"), col("n_cross")),
        col("rep_id") === col("xr"), "left")
      .join(withinKills.select(col("dead_rep").as("wr"), col("n_within")),
        col("rep_id") === col("wr"), "left")
      .select(col("doc_id"),
        (when(col("doc_id") =!= col("rep_id"), 1L).otherwise(0L) +
          coalesce(col("n_cross"), lit(0L)) +
          coalesce(col("n_within"), lit(0L))).as("n_dups_smaller"),
        (col("doc_id") === col("rep_id") &&
          col("n_cross").isNull && col("n_within").isNull).as("keep"))
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
   */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    val nBlocks = maxHamming + 1
    val blockBits = math.max(64 / nBlocks, 1)
    val mask = if (blockBits >= 64) -1L else (1L << blockBits) - 1
    val sig = spread(docs).select(col(idCol).as("doc_id"), simhashOf(col(textCol)).as("sim"))
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

  /** Keep-table for SimHash dedup: (doc_id, n_dups_smaller, keep) —
   * layered (exact collapse first). */
  def simhashKeep(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    keepFirstLayered(docs, idCol, textCol) { reps =>
      simhashPairs(reps, "doc_id", "text", maxHamming)
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
   * Shuffle shape: (anchor, id) rows only — |shingles|/rate per doc,
   * never the text or the sets; sets join back per DEDUPED candidate.
   * Output: ordered pairs (id_a contained in id_b) with the exact
   * containment and both set sizes.
   */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, shingleWords: Int = 3,
      anchorRate: Int = 8, maxAnchorDf: Long = 1000L): DataFrame = {
    require(anchorRate >= 1, s"anchorRate must be >= 1, got $anchorRate")
    val base = spread(docs).select(col(idCol).as("doc_id"),
      coalesce(col(textCol), lit("")).as("text"))
    val sh = base.select(col("doc_id"),
      wordShingleHashes(col("text"), shingleWords).as("sh"))
    // explode-then-filter stays codegen'd (Generate + codegen'd pmod);
    // a higher-order filter over the array would run interpreted
    val anchors = sh
      .select(col("doc_id"), explode(col("sh")).as("anchor"))
      .filter(pmod(col("anchor"), lit(anchorRate.toLong)) === 0L)
    val rare = anchors.groupBy("anchor")
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxAnchorDf)
      .select("anchor")
    val pruned = anchors.join(rare, Seq("anchor"))
    val cand = pruned.as("a").join(pruned.as("b"), Seq("anchor"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_x"), col("b.doc_id").as("id_y"))
      .distinct() // dedup across anchors BEFORE the heavier set join
    val verified = cand
      .join(sh.select(col("doc_id").as("id_x"), col("sh").as("sh_x")), Seq("id_x"))
      .join(sh.select(col("doc_id").as("id_y"), col("sh").as("sh_y")), Seq("id_y"))
      .select(col("id_x"), col("id_y"),
        graft.functions.expressions.hashContainment(col("sh_x"), col("sh_y")).as("c_xy"),
        graft.functions.expressions.hashContainment(col("sh_y"), col("sh_x")).as("c_yx"),
        size(col("sh_x")).cast("long").as("sz_x"), size(col("sh_y")).cast("long").as("sz_y"))
    // containment is asymmetric: each unordered candidate can emit up
    // to two ordered (contained, container) rows
    verified.filter(col("c_xy") >= threshold)
      .select(col("id_x").as("id_a"), col("id_y").as("id_b"),
        col("c_xy").as("containment"), col("sz_x").as("sz_a"), col("sz_y").as("sz_b"))
      .unionAll(verified.filter(col("c_yx") >= threshold)
        .select(col("id_y").as("id_a"), col("id_x").as("id_b"),
          col("c_yx").as("containment"), col("sz_y").as("sz_a"), col("sz_x").as("sz_b")))
  }

  /**
   * Keep-table for containment dedup: a document dies iff some
   * CONTAINER beats it — containment(A in B) ≥ threshold and B is
   * strictly larger (by shingle-set size), or equal-sized with a
   * smaller id. The (size desc, id asc) order is total and strict, so
   * the kill relation is acyclic and every containment chain's maximal
   * document survives — "keep the superset", the containment analog of
   * keep-first. Layered like [[minhashKeep]]: exact copies collapse to
   * their min-id representative first (one hash aggregate), immune to
   * mass-duplication bucket skew. Returns (doc_id, n_containers, keep).
   */
  def containmentKeep(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, shingleWords: Int = 3,
      anchorRate: Int = 8, maxAnchorDf: Long = 1000L): DataFrame = {
    val keyed = docs.select(col(idCol).as("doc_id"),
        coalesce(col(textCol), lit("")).as("text"))
      .withColumn("__tkey", md5(col("text").cast("binary")))
    val reps = keyed.groupBy("__tkey")
      .agg(min("doc_id").as("rep_id"), first("text").as("text"))
    val pairs = containmentPairs(
      reps.select(col("rep_id").as("doc_id"), col("text")),
      "doc_id", "text", threshold, shingleWords, anchorRate, maxAnchorDf)
    val killed = pairs
      .filter(col("sz_b") > col("sz_a") ||
        (col("sz_b") === col("sz_a") && col("id_b") < col("id_a")))
      .groupBy(col("id_a").as("dead_rep")).agg(count(lit(1)).as("__n_cont"))
    keyed
      .join(reps.select("__tkey", "rep_id"), Seq("__tkey"))
      .join(killed, col("rep_id") === col("dead_rep"), "left")
      .select(col("doc_id"),
        // an exact copy's container is its representative (containment
        // 1.0, equal size, smaller id) plus the rep's own containers
        (when(col("doc_id") =!= col("rep_id"), 1L).otherwise(0L) +
          coalesce(col("__n_cont"), lit(0L))).as("n_containers"),
        (col("doc_id") === col("rep_id") && col("__n_cont").isNull).as("keep"))
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
    // band join carries ids only; vectors join back per deduped pair
    val banded = base
      .select(col("vec_id"),
        posexplode(signatureBands(
          hyperplaneSignature(col("v"), dim, numPlanes), numPlanes, bandBits)))
      .withColumnsRenamed(Map("pos" -> "band_idx", "col" -> "band_val"))
    val pairs = banded.as("a")
      .join(banded.as("b"), Seq("band_idx", "band_val"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    pairs
      .join(base.select(col("vec_id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(base.select(col("vec_id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
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
