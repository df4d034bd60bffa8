package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Record linkage / entity resolution over STRUCTURED records — the
 * multi-field cousin of the text dedup family (`graft.dedup`): find
 * likely-same-entity record pairs without comparing all pairs.
 *
 * Classic two-stage shape, same scale rule as MinHash/LSH dedup:
 *  1. BLOCK: records shuffle once on cheap blocking keys (region +
 *     segment, zip prefix, phonetic code…) — candidate pairs exist
 *     only WITHIN a block, so the quadratic explosion is bounded by
 *     the largest block, never the corpus;
 *  2. VERIFY: an exact field-similarity predicate (here codegen'd
 *     `levenshtein`, portable to any engine) runs only on in-block
 *     pairs, `id_a < id_b` deduping the symmetric pair.
 *
 * Skewed blocks are the caller's lever: add a discriminating column
 * to `blockCols` (the standard fix) or pre-salt giant blocks via
 * `salts > 1` (the `Skew.saltedJoin` pattern, built in below).
 */
object Linkage {

  /** All in-block record pairs (id_a < id_b), carrying each side's
   * compare column. One self-join on the block key.
   *
   * `salts > 1` pre-salts the self-join for skewed block-key
   * distributions (one giant block otherwise lands every candidate
   * pair on ONE reducer): the a-side gets a deterministic salt from
   * its id, the b-side replicates to every salt, and the join key
   * grows the salt column — each unordered pair still joins exactly
   * once (at the a-side's salt), so the pair SET is identical to the
   * unsalted join while the giant block's verify work spreads across
   * `salts` reducers. Cost: the b-side shuffle replicates ×salts —
   * worth it exactly when one block dominates (SkewSpec checks the
   * pair set on the 50%-giant-block shape in the shuffle regime). */
  def candidatePairs(records: DataFrame, idCol: String, compareCol: String,
                     blockCols: Seq[String], salts: Int = 1): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    // Spread the probe side before the CPU-heavy verify (the
    // Dedup.spread rationale): when the build side broadcasts — the
    // common small-records case — the join inherits the probe side's
    // partitioning, and a few-file input would run the whole
    // quadratic verify in one task. A many-partition input (the
    // 100 TB case) passes through untouched.
    val a = graft.dedup.Dedup.spread(records).select(
      (col(idCol).as("id_a") +: col(compareCol).as(s"${compareCol}_a")
        +: blockCols.map(col)): _*)
    val b = records.select(
      (col(idCol).as("id_b") +: col(compareCol).as(s"${compareCol}_b")
        +: blockCols.map(col)): _*)
    if (salts == 1) {
      a.join(b, blockCols).filter(col("id_a") < col("id_b"))
    } else {
      val sa = a.withColumn("__salt", pmod(xxhash64(col("id_a")), lit(salts.toLong)))
      val sb = b.withColumn("__salt",
        explode(sequence(lit(0L), lit(salts.toLong - 1))))
      sa.join(sb, blockCols :+ "__salt")
        .filter(col("id_a") < col("id_b"))
        .drop("__salt")
    }
  }

  /** Edit-distance-1 linkage via DELETION NEIGHBORHOODS (C32b, r18 —
   * the FastSS scheme, Bocek et al. 2007): each record emits its
   * compare string plus every single-deletion variant as blocking
   * keys; two strings are within edit distance 1 IFF their key sets
   * intersect, so the key equi-join is a COMPLETE candidate
   * generator and the exact thresholded-levenshtein verify only
   * confirms. This is the SCALE-CORRECT shape for dist-1 linkage:
   * candidate volume tracks true near-duplicate density (key groups
   * stay small wherever strings are distinctive), where fixed-
   * cardinality blocking ([[linkByEditDistance]] on a handful of
   * categorical columns) pays block-size² — the r18 sf10 probe
   * measured that as 86× runtime for 10× data. Keep the blocked
   * variant for arbitrary maxDist with a discriminating key; use
   * this one whenever maxDist = 1 and no such key exists.
   *
   * NULL compare strings link to nothing (a name-less record has no
   * evidence). Returns (id_a, id_b, dist), id_a < id_b, global —
   * not confined to any block.
   *
   * Mass-duplication collapse (the §4 rule, measured on the sf10
   * probe): the neighborhood join runs over DISTINCT strings only —
   * k records sharing one string would otherwise push every one of
   * their ~len+1 shared keys through the self-join as k² candidate
   * rows PER KEY (1.4B candidates at 100× duplication, an OOM).
   * Distinct-string pairs at distance 1 expand back to record pairs
   * through two string-keyed joins, and equal-string record pairs
   * (dist 0) come from one same-string self-join — both produce
   * output-sized small rows only. The key self-join is pinned to
   * sort-merge: the explode multiplies rows ~len+1 past the source's
   * size stats, and Catalyst otherwise BROADCASTS a side that is
   * actually GBs (watched at 3.3 GiB into an 8 GiB JVM). */
  def linkByDeletion1(records: DataFrame, idCol: String,
      compareCol: String): DataFrame =
    linkByDeletionK(records, idCol, compareCol, 1)

  /** [[linkByDeletion1]] generalized to edit distance ≤ `maxDist`
   * (C32c, r19 — full FastSS): blocking keys are every variant with
   * up to `maxDist` code-point deletions
   * ([[graft.functions.expressions.deletionNeighborhood]] with
   * k = maxDist), so the key equi-join stays a COMPLETE candidate
   * generator at any threshold. Unlike k = 1 the generator is no
   * longer tight — two strings can share a k-deletion variant at
   * distance up to 2k ("abcd"/"cdab" share "cd" at distance 4) — so
   * the thresholded-levenshtein verify is load-bearing here, and the
   * caller pays for it in candidate volume: keys per string grow
   * ~len^k/k!, and on LOW-ENTROPY compare strings (serial numbers,
   * sequential account names) the dist-2 relation itself can be
   * orders of magnitude denser than dist-1 — measure on a sample and
   * prefer a composite compare string (name + a discriminating
   * field) exactly as with blocked linkage. Same distinct-string
   * collapse, sort-merge pin, and NULL semantics as k = 1; dist 0 =
   * equal strings, dists 1..maxDist from the verified name pairs. */
  def linkByDeletionK(records: DataFrame, idCol: String,
      compareCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"linkByDeletionK: maxDist must be >= 1, got $maxDist")
    val base = graft.dedup.Dedup.spread(records)
      .filter(col(compareCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(compareCol).as("s"))
    // distinct name pairs at distance 1..maxDist (equal names never
    // meet here — the neighborhoods are keyed per DISTINCT string)
    val namePairs = nearNames(base.select(col("s")).distinct(), maxDist)
    // equal-string record pairs: dist 0
    val within = base.as("x").join(base.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(0L).as("dist"))
    // near-name pairs expand to every record pair across them
    val cross = namePairs
      .join(base.select(col("s").as("s1"), col("id").as("id_x")), "s1")
      .join(base.select(col("s").as("s2"), col("id").as("id_y")), "s2")
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"), col("dist"))
    within.unionByName(cross)
  }

  /** Distinct compare-string pairs (s1 < s2, dist) at edit distance
   * 1..maxDist among `names`, one row per distinct string `s`: every
   * string's deletion-neighborhood keys self-join
   * ([[graft.dedup.Dedup.selfPairs]]) and the thresholded levenshtein
   * verifies (it returns -1 beyond maxDist).
   *
   * The keys are 64-bit HASHES of the deletion variants (r19, guide
   * §2.3 — shuffle metadata, not payloads): the equi-join needs only
   * key equality and the levenshtein verify kills any hash-collision
   * candidate, so the sorted/shuffled key column is 8 bytes instead of
   * a ~len-char substring, with an identical final pair set. r20 note:
   * a positions-aware variant (emit one key per deletion SET with its
   * gap mask, prune incompatible gap sets in the join) was built,
   * measured, and REVERTED — the per-set enumeration stops
   * deduplicating equal-run deletions, and on run-heavy compare
   * strings ("Customer#000000001": a digit run of length r turns 1
   * deduped two-deletion key into C(r,2) rows) the key multiplicity
   * grows quadratically per matched pair, which cost far more than the
   * filter saved (A/B: del2 9463 ms vs 7177 ms old — plans/r20,
   * OPTIMIZATION_r20.md). The key self-join is pinned to sort-merge
   * ([[linkByDeletion1]]). */
  private def nearNames(names: DataFrame, maxDist: Int): DataFrame = {
    val keys = names
      .select(col("s"), explode(graft.functions.expressions
        .deletionNeighborhoodHashed(col("s"), maxDist)).as("k"))
      .hint("shuffle_merge")
    graft.dedup.Dedup.selfPairs(keys, "s", Seq("k"))
      .select(col("id_a").as("s1"), col("id_b").as("s2"))
      .withColumn("dist", levenshtein(col("s1"), col("s2"), maxDist).cast("long"))
      .filter(col("dist") >= 1L)
  }

  /** Entity-resolution CLUSTERS (r19, the composition SCALE_SF10.md
   * named): the deletion-neighborhood relation fed through the C14
   * transitive-closure machinery
   * ([[graft.operators.Components.connectedComponents]]), emitting
   * ONE row per record — (id, cluster), cluster = the component's
   * minimum record id, singletons labeled by their own id.
   *
   * Everything here is LINEAR in records + distinct-name pairs —
   * including the edge relation, which is where the naive composition
   * would die: feeding [[linkByDeletionK]]'s enumerated pairs into
   * the cluster step carries k(k−1)/2 rows per k-duplicated string
   * (2.7B pairs in the r18 sf10 probe) only to have the components
   * collapse them again. Connectivity needs far less: a STAR (each
   * record → its string group's min record id, k−1 edges) makes
   * every equal-string group one component, and ONE edge between the
   * two groups' representatives carries each dist-1..k name pair.
   * The result is provably the same clustering — a star is a
   * connected subgraph on exactly the clique's vertex set, and a
   * rep-edge connects exactly the components the expanded pair fan
   * would — with edges = records + name pairs, no quadratic term
   * anywhere, not even in the intermediate.
   *
   * NULL compare strings cluster as singletons (no evidence — the
   * [[linkByDeletionK]] rule). */
  def linkClusters(records: DataFrame, idCol: String, compareCol: String,
      maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1, s"linkClusters: maxDist must be >= 1, got $maxDist")
    val base = graft.dedup.Dedup.spread(records)
      .filter(col(compareCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(compareCol).as("s"))
    val reps = base.groupBy("s").agg(min("id").as("rep"))
    val star = base.join(reps, "s")
      .filter(col("id") =!= col("rep"))
      .select(col("id").as("id_a"), col("rep").as("id_b"))
    val namePairs = nearNames(reps.select(col("s")), maxDist)
    val nameEdges = namePairs
      .join(reps.select(col("s").as("s1"), col("rep").as("id_a")), "s1")
      .join(reps.select(col("s").as("s2"), col("rep").as("id_b")), "s2")
      .select("id_a", "id_b")
    val comp = graft.operators.Components
      .connectedComponents(star.unionByName(nameEdges), "id_a", "id_b")
      .select(col("node").as("id"), col("component"))
    records.select(col(idCol).cast("long").as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
  }

  /** Linked pairs: in-block candidates whose compare-field edit
   * distance is ≤ maxDist. Returns (id_a, id_b, dist).
   *
   * Verify cost per pair is bounded twice: a length-gap guard (edit
   * distance is at least the length difference — an integer compare
   * that skips the DP entirely for most in-block pairs) and the
   * THRESHOLDED levenshtein, whose banded DP is O(len·maxDist) with
   * early exit instead of O(len²) — at web-scale blocks the verify is
   * the dominant term, so both bounds survive a 100× block growth.
   * `salts` spreads a skewed block's verify (see [[candidatePairs]]);
   * the linked pair set is salt-invariant. */
  def linkByEditDistance(records: DataFrame, idCol: String, compareCol: String,
                         blockCols: Seq[String], maxDist: Int,
                         salts: Int = 1): DataFrame =
    candidatePairs(records, idCol, compareCol, blockCols, salts)
      .filter(abs(length(col(s"${compareCol}_a")) - length(col(s"${compareCol}_b")))
        <= maxDist)
      .withColumn("dist",
        levenshtein(col(s"${compareCol}_a"), col(s"${compareCol}_b"), maxDist)
          .cast("long"))
      // the thresholded variant returns -1 for "beyond maxDist"
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
}
