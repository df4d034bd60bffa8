package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * URL canonicalization + canonical-URL dedup (C93) — the FIRST dedup
 * pass of a crawl pipeline, upstream of every content-based one
 * (C1 exact, C2 MinHash, …): the same page is fetched as
 * `HTTP://WWW.Site.COM:80/a/?b=2&a=1&utm_source=x#frag` and
 * `https://site.com/a?a=1&b=2`, and content dedup pays full shingle
 * or hash cost on what one string normalization would have collapsed
 * for free. Canonicalization is the codegen'd
 * [[graft.functions.expressions.canonicalUrl]] kernel (scheme fold,
 * userinfo strip, host/www/default-port/IDN normalization,
 * percent-encoding normalization, path dot-segment resolution,
 * fragment + parameterized tracking-param drop, param sort — each
 * rule documented on HashOps.canonicalUrl);
 * the dedup is one canonical-key window, the
 * [[graft.multimodal.Media.exactDedup]] discipline on strings.
 *
 * Scale: one projection + one key-partitioned window — shuffles
 * canonical strings (bounded by URL length), never document
 * payloads; the canonical form is also the natural PRE-PARTITION key
 * for the content-dedup stages that follow.
 */
object Urls {

  /** Canonical-URL dedup: (id, canon_url, rep_id, n_copies, keep) —
   * rep = lowest id per canonical form, every surface variant maps
   * onto it. NULL URLs carry no identity evidence: each null-URL row
   * is its own singleton group (keep = true, n_copies = 1) rather
   * than all nulls merging into one doomed group (ADVICE r18) — the
   * NUL-prefixed per-id key also spreads them across window
   * partitions instead of piling them onto one null reducer. */
  def canonicalDedup(df: DataFrame, idCol: String, urlCol: String,
      dropParams: String = graft.functions.UrlDropList.DefaultSpec,
      foldHttp: Boolean = true): DataFrame = {
    val w = Window.partitionBy(coalesce(col("canon_url"),
      concat(lit("\u0000"), col("id").cast("string"))))
    df.select(col(idCol).cast("long").as("id"),
        graft.functions.expressions.canonicalUrl(col(urlCol), dropParams, foldHttp)
          .as("canon_url"))
      .select(col("id"), col("canon_url"),
        min("id").over(w).as("rep_id"),
        count(lit(1)).over(w).as("n_copies"))
      .withColumn("keep", col("id") === col("rep_id"))
  }
}
