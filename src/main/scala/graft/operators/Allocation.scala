package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Max-min fair budget allocation under per-key caps (C63) — the
 * progressive-filling allocation ("water-filling with ceilings"): give
 * every key an equal share of the budget, except that no key may
 * receive more than its cap; capacity a capped key cannot absorb is
 * redistributed equally among the others. The training-data mixture
 * use: cap = max-epochs × available tokens per source, budget = the
 * run's total token budget — proportional sampling drowns small
 * sources, uncapped equal shares over-repeat them; max-min fairness is
 * the published middle ground (progressive filling, the classic
 * link-bandwidth fairness construction).
 *
 * Closed form, no iteration: with keys sorted by cap ascending, the
 * capped set is a PREFIX — key i caps iff cap_i·(m−i+1) ≤ R_i where
 * R_i is the budget left after fully granting every smaller cap
 * (exact product comparison, no division); the first failure is the
 * boundary, because the fill level only rises while capping and every
 * later cap is larger still. Uncapped keys split the remaining budget
 * exactly: base = R div u, and the first (R mod u) of them in sort
 * order get one extra unit, so Σ allocated ≡ budget whenever the caps
 * can absorb it (all-integer, replayable bit-for-bit). If Σcap <
 * budget, every key gets its cap and `shortfall` reports the rest.
 *
 * Scale: the input here is the PER-KEY relation (one row per source —
 * dimension-bounded, like the Ann centroid state), produced upstream
 * by a map-side-combined rollup over the corpus; the global sort
 * window runs over that bounded dim, never over data. The heavy pass
 * at 100 TB is the upstream token count, which stays one aggregate.
 */
object Allocation {

  /**
   * `df`: one row per key with an integral `cap` column. `budget`: a
   * 1-row DataFrame with an integral `budget` column (derived from
   * data upstream — never a driver collect). Returns `df`'s columns
   * plus `allocated`, `capped`, `fill_level` (NULL when every key
   * capped) and `shortfall` (0 unless Σcap < budget).
   */
  def maxMinFair(df: DataFrame, key: String, cap: String, budget: DataFrame): DataFrame = {
    val w = Window.orderBy(col(cap), col(key))
    val m = df.agg(count(lit(1)).cast("long").as("__m"))
    val ranked = df.crossJoin(broadcast(budget)).crossJoin(broadcast(m))
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__cumprev", coalesce(
        sum(col(cap)).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__fail",
        col(cap) * (col("__m") - col("__i") + 1L) > col("budget") - col("__cumprev"))
    val boundary = ranked.agg(min(when(col("__fail"), col("__i"))).as("__ff"))
    val marked = ranked.crossJoin(broadcast(boundary))
      .withColumn("capped", col("__ff").isNull || col("__i") < col("__ff"))
    val pool = marked.agg(
      sum(when(col("capped"), col(cap)).otherwise(lit(0L))).as("__granted"),
      sum(when(col("capped"), lit(0L)).otherwise(lit(1L))).as("__u"))
    marked.crossJoin(broadcast(pool))
      .withColumn("__r", col("budget") - col("__granted"))
      .withColumn("fill_level",
        when(col("__u") > 0, expr("__r div __u")).otherwise(lit(null).cast("long")))
      .withColumn("allocated",
        when(col("capped"), col(cap)).otherwise(
          col("fill_level") +
            when(col("__i") - col("__ff") + 1L <= col("__r") % col("__u"), 1L)
              .otherwise(0L)))
      .withColumn("shortfall",
        when(col("__u") === 0L, col("__r")).otherwise(lit(0L)))
      .drop("__i", "__cumprev", "__fail", "__ff", "__m", "__granted", "__u", "__r",
        "budget")
  }

  /**
   * Largest-remainder pro-rata allocation (B119) — split an integral
   * `budget` (1-row DataFrame, `budget` column) across keys
   * proportional to `weight`, with the allocations summing EXACTLY to
   * the budget: base_i = ⌊budget·w_i / W⌋, and the leftover cents go
   * +1 each to the largest remainders (ties to the smaller key) — the
   * Hamilton apportionment every invoice/royalty/cost-center split
   * needs. Naive per-key rounding loses or invents cents; this can't.
   *
   * Scale shape: W and the leftover are 1-row broadcasts; base and
   * remainder are codegen'd decimal(38,0) expressions riding the scan
   * (budget·w wraps a long at warehouse magnitudes — B55 rule); the
   * "top-leftover remainders" selection never sorts globally and
   * never casts the remainder to long (ADVICE r14: rem is bounded by
   * W < 2⁸⁶, past long range): when W fits a long (the common case,
   * known exactly from the guard) the distinct remainder domain ranks
   * directly via [[Rank.distinctRanks]] (two rank passes total);
   * past long range rem splits into (hi, lo) long-safe halves at 2⁶²,
   * each half's distinct DOMAIN ranks (≤ n values → 23 bits each),
   * the rank pair packs into 46 bits and ranks again — ordering by
   * half-ranks ≡ ordering by rem, so both paths yield the SAME
   * remainder rank. Finally the packed (remainder-rank desc, key)
   * order ranks for the total (rem desc, key asc) pick. Only
   * range-partitioned rank passes, zero single-partition windows, no
   * overflow at any W. Fail-loud preconditions: unique keys in
   * [0, 2⁴⁰), n < 2²³, non-negative weights, positive total, and a
   * budget of EXACTLY one non-negative row (a multi-row or negative
   * budget would silently corrupt the allocation via the crossJoin).
   *
   * Emits (key, weight, base, extra, allocated). */
  def proRata(df: DataFrame, key: String, weight: String,
      budget: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val bvals = budget.select(col("budget").cast(d38)).limit(2).collect()
    require(bvals.length == 1,
      s"proRata: budget must be exactly 1 row (got ${if (bvals.isEmpty) 0 else "2+"})")
    require(bvals(0).getDecimal(0) != null && bvals(0).getDecimal(0).signum() >= 0,
      "proRata: budget must be a non-negative, non-null amount")
    // r19 (guide §1.2): the per-key relation is consumed by FOUR
    // separate actions (the guard aggregate, the range-boundary
    // percentile sampling of each rank pass, and the final query) —
    // each re-executing the caller's upstream corpus rollup. It is
    // dimension-bounded by contract (one row per key), so materialize
    // it once to scratch and let every pass read the snapshot; the
    // 100 TB upstream aggregate then runs exactly once.
    val sparkIn = df.sparkSession
    val inPath = graft.Scratch.callDir(sparkIn, "prorata")
    df.select(col(key).cast("long").as("k"),
      col(weight).cast("long").as("w"))
      .write.mode("overwrite").parquet(inPath)
    val in = sparkIn.read.parquet(inPath)
    // fail-loud preconditions (one bounded pass): duplicate keys would
    // collapse in the rank and silently re-aim the leftover cents;
    // negative weights make "proportional" meaningless; a zero total
    // divides by zero into NULLs; the packed (remainder-rank, key)
    // order below needs n < 2²³ and keys < 2⁴⁰
    val guard = in.agg(
      (count(lit(1)) - countDistinct(col("k"))).as("dups"),
      sum(when(col("w") < 0L, 1L).otherwise(0L)).as("negs"),
      sum(col("w").cast(d38)).as("tw"),
      count(lit(1)).as("n"),
      sum(when(col("k") < 0L || col("k") >= (1L << 40), 1L).otherwise(0L))
        .as("badKeys")).head()
    require(guard.getLong(0) == 0L, "proRata: duplicate keys")
    require(guard.getLong(1) == 0L, "proRata: negative weights")
    require(guard.getDecimal(2) != null &&
      guard.getDecimal(2).signum() > 0, "proRata: total weight must be > 0")
    require(guard.getLong(3) < (1L << 23),
      "proRata: more than 2^23 keys — widen the pack before using")
    require(guard.getLong(4) == 0L,
      "proRata: keys outside [0, 2^40) — outside the packable domain")
    // W is already computed EXACTLY by the guard pass — embed it as a
    // literal instead of re-aggregating and cross-joining a 1-row frame
    val based = in.crossJoin(broadcast(budget))
      .withColumn("tw", lit(guard.getDecimal(2)).cast(d38))
      .withColumn("base",
        expr("cast((cast(budget as decimal(38,0)) * w) div tw as long)"))
      // rem stays decimal(38,0): it is bounded by W (< 2^86 with
      // n < 2^23 long weights), which a long cast would overflow
      .withColumn("rem", expr("(cast(budget as decimal(38,0)) * w) % tw"))
    val leftover = based.agg(
      (first(col("budget")) - sum(col("base"))).cast("long").as("leftover"))
    // remainders live below W (arbitrarily large, possibly past long
    // range), so they cannot pack next to the key. Common case
    // (W < 2^63, known from the guard's exact total): rem fits a long,
    // rank its DISTINCT domain directly — the two-pass path (the r14
    // re-pin showed the always-split variant costing 2.3×). Past long
    // range: split rem = hi·2^62 + lo (both halves long-safe), rank
    // each half's distinct domain (≤ n values → 23 bits by the guard),
    // pack the rank pair into 46 bits and rank the pack — ordering by
    // (hi_rank, lo_rank) ≡ ordering by (hi, lo) ≡ ordering by rem, so
    // both paths produce the SAME rem_rank. Then pack
    // (remainder-rank desc, key) and rank THAT for the total
    // (rem desc, key asc) order. Range-partitioned rank passes only,
    // zero single-partition windows, zero overflow at any W.
    val wFitsLong = guard.getDecimal(2)
      .compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) <= 0
    val packed =
      if (wFitsLong) {
        val remRanks = Rank.distinctRanks(
            based.select(expr("cast(rem as long) as reml")), "reml")
          .select(col("v").as("reml"), col("rank").as("rem_rank"))
        based.withColumn("reml", expr("cast(rem as long)"))
          .join(remRanks, Seq("reml"))
          .select(col("k"), col("w"), col("base"),
            (((lit(1L << 23) - col("rem_rank")) * (1L << 40)) + col("k")).as("pk"))
      } else {
        val split = based
          .withColumn("rem_hi", expr("cast(rem div 4611686018427387904 as long)"))
          .withColumn("rem_lo", expr("cast(rem % 4611686018427387904 as long)"))
        val hiRanks = Rank.distinctRanks(split.select("rem_hi"), "rem_hi")
          .select(col("v").as("rem_hi"), col("rank").as("hi_rank"))
        val loRanks = Rank.distinctRanks(split.select("rem_lo"), "rem_lo")
          .select(col("v").as("rem_lo"), col("rank").as("lo_rank"))
        val remKeyed = split.join(hiRanks, Seq("rem_hi")).join(loRanks, Seq("rem_lo"))
          .withColumn("rem_key", (col("hi_rank") * (1L << 23)) + col("lo_rank"))
        val remRanks = Rank.distinctRanks(remKeyed.select("rem_key"), "rem_key")
          .select(col("v").as("rem_key"), col("rank").as("rem_rank"))
        remKeyed.join(remRanks, Seq("rem_key"))
          .select(col("k"), col("w"), col("base"),
            (((lit(1L << 23) - col("rem_rank")) * (1L << 40)) + col("k")).as("pk"))
      }
    val ranks = Rank.distinctRanks(packed.select("pk"), "pk")
    packed.join(ranks, packed("pk") === ranks("v"))
      .crossJoin(broadcast(leftover))
      .withColumn("extra", when(col("rank") <= col("leftover"), 1L).otherwise(0L))
      .select(col("k").as(key), col("w").as(weight), col("base"), col("extra"),
        (col("base") + col("extra")).as("allocated"))
  }
}
