package graft

import graft.operators.Relational
import graft.pipelines.Denorm
import graft.operators.Relational.Lookup
import graft.sources.JsonTables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QuerySupport._

/** SURVEY §2 section A: the reference-core operators (load, join,
 * lookup, nest, conform, denormalize, load into a table) and the
 * ingest, snapshot, branch and governance verbs built on them.
 * Each query is one [[QuerySpec]] in `specs`: its name, its builder
 * below and the DuckDB SQL the oracle replays. */
object ReferenceQueries {

  /** A1: parquet→json-lines→namespaced load round trip. */
  private def qJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val nation = t(s, dir, "nation")
    JsonTables
      .loadTableFromText(nation.toJSON, "nation", nation.schema)
      .orderBy("nation_n_nationkey")
  }

  /** A3: inner join with namespace-merged columns. */
  private def qJoinMerge(s: SparkSession, dir: String): DataFrame =
    Relational
      .innerJoinMerge(t(s, dir, "customer"), t(s, dir, "orders"), "c_custkey", "o_custkey")
      .select(
        col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"), col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy("o_orderkey")

  /** A4: broadcast lookup replacing FK ids with labels. */
  private def qLookupReplace(s: SparkSession, dir: String): DataFrame =
    Relational
      .lookupReplace(
        t(s, dir, "customer"),
        Lookup(t(s, dir, "nation"), "n_nationkey", "n_name", Seq("c_nationkey")))
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .orderBy("c_custkey")

  /** A5: nest orders under customer, project order-insensitive stats. */
  private def qNest(s: SparkSession, dir: String): DataFrame =
    Relational
      .nest(t(s, dir, "customer"),
        t(s, dir, "orders").withColumn("o_total_cents", cents(col("o_totalprice"))),
        "c_custkey", "o_custkey", "orders", sortChildBy = Seq("o_orderkey"))
      .select(
        col("c_custkey"),
        size(col("orders")).cast("long").as("n_orders"),
        // cents precomputed in the flat child (codegen'd), summed by the
        // native ArrayFieldSum — no interpreted lambda over the array
        (graft.functions.expressions.arrayFieldSum(col("orders"), "o_total_cents") / 100.0)
          .as("sum_total"))
      .orderBy("c_custkey")

  /** A6: nesting limit — chunk nested arrays at 5, duplicating parents. */
  private def qNestChunked(s: SparkSession, dir: String): DataFrame =
    Relational
      .nestChunked(
        Relational.nest(t(s, dir, "orders"), t(s, dir, "lineitem"), "o_orderkey",
          "l_orderkey", "items", inner = true, sortChildBy = Seq("l_linenumber")),
        "items", limit = 5)
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_chunks"), sum(size(col("items"))).cast("long").as("n_items"))
      .orderBy("o_orderkey")

  /** A11: schema conformance (Relational.conformToSchema — the
   * reference's transformToTableRows) driven end-to-end: a
   * SchemaBuilder-built target schema projects the nested
   * orders+items frame, exercising all three conformance paths at
   * once — a field absent from the input (`audit_note`) becomes a
   * typed null, the repeated record narrows element-wise to a
   * 2-field struct (Spark rejects subset-struct casts, so this is
   * the transform() path), and the 4-item nesting limit splits
   * overflow rows. The oracle replays the chunk geometry from raw
   * lineitem rows: chunks are contiguous l_linenumber-sorted slices,
   * so (count, min, sum) of each chunk's linenumbers pins every
   * split row. */
  private def qConform(s: SparkSession, dir: String): DataFrame = {
    val itemRecord = graft.schema.SchemaBuilder.create()
      .intField("l_linenumber")
      .doubleField("l_quantity")
      .repeatedRecord("items")
    val target = graft.schema.SchemaBuilder.create()
      .intField("o_orderkey")
      .stringField("o_orderstatus")
      .stringField("audit_note") // not in the input → typed null
      .field(itemRecord)
      .schema()
    val nested = Relational.nest(t(s, dir, "orders"), t(s, dir, "lineitem"),
      "o_orderkey", "l_orderkey", "items", inner = true,
      sortChildBy = Seq("l_linenumber"))
    Relational.conformToSchema(nested, target, nestingLimit = 4)
      .select(col("o_orderkey"), col("o_orderstatus"), col("audit_note"),
        size(col("items")).cast("long").as("n_in_chunk"),
        element_at(col("items.l_linenumber"), 1).as("first_ln"),
        aggregate(col("items.l_linenumber"), lit(0L), (a, x) => a + x).as("sum_ln"))
      .orderBy("o_orderkey", "first_ln")
  }

  /** A7: BQETLSimple — flat denormalized wide table. */
  private def qFlatDenorm(s: SparkSession, dir: String): DataFrame =
    Denorm.flatDenorm(s, dir)
      .select(
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("o_orderdate"), col("o_orderpriority"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      .orderBy("o_orderkey", "l_linenumber")

  /** A8: BQETLNested — nested repeated records, projected to
   * order-insensitive per-parent stats for the oracle. */
  private def qNestedDenorm(s: SparkSession, dir: String): DataFrame =
    Denorm.nestedDenorm(s, dir)
      .select(
        col("c_custkey"), col("c_name"),
        size(col("order_items")).cast("long").as("n_items"),
        // codegen'd nested aggregation — aggregate() HOFs run interpreted
        (graft.functions.expressions.arrayFieldSum(col("order_items"), "l_rev_cents") / 10000.0)
          .as("sum_rev"))
      .orderBy("c_custkey")

  /** A19 (r14): atomic multi-table snapshot publish + time travel
   * ([[graft.sinks.Snapshot]]) — publish v1 = {customer rollup,
   * nation dim}, then v2 with a changed rollup; read the CURRENT
   * version and the PINNED v1 back through the manifest and emit both
   * rollups. The oracle computes both versions' content directly from
   * the source tables — equality proves write→pointer-flip→read
   * fidelity AND that v1 stayed intact after v2's publish (version
   * immutability is what makes time travel trustworthy). */
  private def qSnapshotPublish(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "snap")
    def rollup(onlyPositive: Boolean) = {
      val c = t(s, dir, "customer")
      (if (onlyPositive) c.filter(col("c_acctbal") > 0) else c)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"),
          sum(cents(col("c_acctbal"))).as("bal_cents"))
    }
    val nation = t(s, dir, "nation").select("n_nationkey", "n_name")
    val v1 = graft.sinks.Snapshot.publish(s, root,
      Map("cust" -> rollup(onlyPositive = false), "nation" -> nation))
    graft.sinks.Snapshot.publish(s, root,
      Map("cust" -> rollup(onlyPositive = true), "nation" -> nation))
    def readBack(version: Option[Long], tag: Long) =
      graft.sinks.Snapshot.read(s, root, "cust", version)
        .join(graft.sinks.Snapshot.read(s, root, "nation", version),
          col("c_nationkey") === col("n_nationkey"))
        .select(lit(tag).as("version"), col("n_name"), col("n_cust"),
          col("bal_cents"))
    readBack(None, 2L).unionByName(readBack(Some(v1), 1L))
      .orderBy("version", "n_name")
  }

  /** A20 (r14): incrementally-refreshed materialized view under
   * versioned publish — B46's mergePartials driven through A19's
   * Snapshot across three daily refreshes: each refresh aggregates
   * ONLY its delta slice, merges with the currently-published view,
   * and publishes a new immutable version. The oracle's FULL
   * recompute over all three slices must equal the final published
   * version (delta refresh ≡ rebuild), and version 1 must still equal
   * the first slice's rollup (immutability under repeated refresh).
   * At 100 TB this is the nightly-view shape: delta-sized aggregation
   * + view-sized merge + one pointer flip, never a history rescan. */
  private def qMvRefresh(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "mv")
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderpriority"), cents(col("o_totalprice")).as("rev"))
    def rollup(m: Long) = o.filter(col("o_orderkey") % 3 === m)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum("rev").as("rev_cents"),
        max("rev").as("max_cents"))
    graft.sinks.Snapshot.publish(s, root, Map("mv" -> rollup(0L)))
    Seq(1L, 2L).foreach { m =>
      val merged = graft.operators.Incremental.mergePartials(
        Seq(graft.sinks.Snapshot.read(s, root, "mv"), rollup(m)),
        Seq("o_orderpriority"),
        Seq("n_orders" -> "sum", "rev_cents" -> "sum", "max_cents" -> "max"))
      graft.sinks.Snapshot.publish(s, root, Map("mv" -> merged))
    }
    val fin = graft.sinks.Snapshot.read(s, root, "mv")
      .withColumn("version", lit(3L))
    val v1 = graft.sinks.Snapshot.read(s, root, "mv", Some(1L))
      .withColumn("version", lit(1L))
    fin.unionByName(v1)
      .select("version", "o_orderpriority", "n_orders", "rev_cents", "max_cents")
      .orderBy("version", "o_orderpriority")
  }

  /** A21 (r14): surgical key delete
   * ([[graft.sinks.TableSink.deleteKeys]]) — the right-to-be-forgotten
   * operation over the writeSorted layout: footer min/max statistics
   * prune the file set (no data read for planning), only intersecting
   * files rewrite. The rollup oracles the post-delete table against
   * the anti-join ground truth; `surgical` asserts the rewrite
   * touched SOME but not ALL files — the efficiency claim as a
   * machine-checked boolean rather than prose. */
  private def qTargetedDelete(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "tdel")
    val o = t(s, dir, "orders").select(col("o_custkey"),
      col("o_orderpriority"), cents(col("o_totalprice")).as("rev"))
    graft.sinks.TableSink.writeSorted(o, root, Seq("o_custkey"),
      targetPartitions = 8)
    val rep = graft.sinks.TableSink.deleteKeys(s, root, "o_custkey",
      Seq(3L, 7L, 11L))
    val touched = rep.nRewritten + rep.nDeletedFiles
    s.read.parquet(root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum("rev").as("rev_cents"))
      .withColumn("surgical", lit(touched >= 1 && touched < rep.nFiles))
      .orderBy("o_orderpriority")
  }

  /** A22 (r14): snapshot change feed
   * ([[graft.sinks.Snapshot.changesBetween]]) — publish two versions
   * of a customer rollup, then DERIVE the keyed I/U/D delta between
   * them: time travel makes change capture an after-the-fact join
   * rather than write-path instrumentation, and the feed is the
   * minimal delta (unchanged rows drop via null-safe struct compare).
   * The oracle computes the same diff directly from the source
   * table's two slices. */
  private def qSnapshotChanges(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "chg")
    def rollup(onlyPositive: Boolean) = {
      val c = t(s, dir, "customer")
      (if (onlyPositive) c.filter(col("c_acctbal") > 0) else c)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"),
          sum(cents(col("c_acctbal"))).as("bal_cents"))
    }
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> rollup(false)))
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> rollup(true)))
    graft.sinks.Snapshot
      .changesBetween(s, root, "cust", 1L, 2L, Seq("c_nationkey"))
      .orderBy("c_nationkey")
  }

  /** A25 (r14): named snapshot tags
   * ([[graft.sinks.Snapshot.tag]]/[[graft.sinks.Snapshot.readTag]]) —
   * the dataset-registry pattern: consumers pin the 'prod' TAG while
   * publishes advance the head; promoting a validated version is a
   * metadata-only pointer flip. The query proves the pin holds across
   * a publish (tag still serves v1 after v2 lands) and that promotion
   * re-points without data movement. */
  private def qSnapshotTag(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "tag")
    def rollup(onlyPositive: Boolean) = {
      val c = t(s, dir, "customer")
      (if (onlyPositive) c.filter(col("c_acctbal") > 0) else c)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"),
          sum(cents(col("c_acctbal"))).as("bal_cents"))
    }
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> rollup(false)))
    graft.sinks.Snapshot.tag(s, root, "prod", 1L)
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> rollup(true)))
    val pinned = graft.sinks.Snapshot.readTag(s, root, "cust", "prod")
      .withColumn("phase", lit("pinned"))
      .withColumn("tag_version",
        lit(graft.sinks.Snapshot.tagVersion(s, root, "prod")))
    graft.sinks.Snapshot.tag(s, root, "prod", 2L)
    val promoted = graft.sinks.Snapshot.readTag(s, root, "cust", "prod")
      .withColumn("phase", lit("promoted"))
      .withColumn("tag_version",
        lit(graft.sinks.Snapshot.tagVersion(s, root, "prod")))
    pinned.unionByName(promoted)
      .select("phase", "tag_version", "c_nationkey", "n_cust", "bal_cents")
      .orderBy("phase", "c_nationkey")
  }

  /** A26 (r14): governed release flagship — the composition row for
   * the session's governance pieces, end to end: k-anonymity audit
   * (C65) on the raw projection REFUSES the release; generalizing the
   * balance band 5× still leaves rare classes; suppressing the
   * residual violators yields a provably k-anonymous table, which
   * then passes the gated publish (A24 machinery) and gets the
   * `release` tag (A25). Every phase's verdict and counts are
   * DuckDB-replayed — the full enforce-generalize-suppress-publish
   * loop a real data release runs, with no step trusting the
   * previous one's claim. */
  private def qGovernedRelease(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.Scratch.callDir(s, "release")
    val qis = Seq("c_nationkey", "c_mktsegment", "bal_band")
    def projected(bandCents: Long) = t(s, dir, "customer")
      .withColumn("bal_cents", cents(col("c_acctbal")))
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr(s"bal_cents div $bandCents").as("bal_band"))
    def audit(df: DataFrame, phase: String) = {
      val r = graft.operators.Anonymity.kAnonymitySummary(df, qis, k = 3L)
        .select("n_rows", "n_rows_at_risk", "anonymity_level", "satisfies_k")
        .as[(Long, Long, Long, Boolean)].head()
      (phase, r._1, r._2, r._3, r._4)
    }
    val raw = audit(projected(100000L), "audit_raw")
    val coarse = projected(500000L)
    val coarseAudit = audit(coarse, "audit_coarse")
    // suppression: drop every row whose class is still under k
    val classes = coarse.groupBy(qis.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
    val released = coarse.join(broadcast(classes.filter(col("class_size") < 3L)),
      qis, "left_anti")
    val relAudit = audit(released, "audit_released")
    require(relAudit._5, "governed release: suppression must reach k-anonymity")
    val (ver, ok, _) = graft.sinks.Snapshot.publishChecked(s, root,
      Map("release" -> released), checks = Nil)
    require(ok, "governed release: gated publish refused a passing table")
    graft.sinks.Snapshot.tag(s, root, "release", ver)
    val nPub = graft.sinks.Snapshot.readTag(s, root, "release", "release").count()
    Seq(raw, coarseAudit, relAudit,
        ("published_v" + ver, nPub, 0L, relAudit._4, true))
      .toDF("phase", "n_rows", "n_rows_at_risk", "anonymity_level",
        "ok")
      .orderBy("phase")
  }

  /** A22b (r14): the publish→diff→apply loop CLOSED — A22's change
   * feed, derived between two published versions, drives A10's
   * applyCdc against a replica bootstrapped at v1; the replica must
   * land EXACTLY on v2 ('I' rows map to upserts like 'U' — applyCdc's
   * merge is insert-or-update by construction). This is the
   * incremental-consumer contract the change feed exists for: a
   * downstream copy pays one keyed merge per publish, never a
   * re-read of the table — and the oracle checks the END STATE, so a
   * feed that dropped or invented any row fails the row, not a log
   * line. */
  private def qChangeApply(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "chgapply")
    def rollup(maxNation: Int) = t(s, dir, "customer")
      .filter(col("c_nationkey") < maxNation)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        sum(cents(col("c_acctbal"))).as("bal_cents"))
    // v1: nations 0..19; v2: nations 0..14 with positive balances only
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> rollup(20)))
    graft.sinks.Snapshot.publish(s, root, Map("cust" ->
      rollup(15).filter(col("bal_cents") > 0)))
    val feed = graft.sinks.Snapshot
      .changesBetween(s, root, "cust", 1L, 2L, Seq("c_nationkey"))
      .withColumn("_op", when(col("op") === "D", lit("D")).otherwise(lit("U")))
      .drop("op")
    val replica = s"$root/replica"
    graft.sinks.Snapshot.read(s, root, "cust", Some(1L))
      .write.parquet(replica) // bootstrap at v1
    graft.sinks.TableSink.applyCdc(s, replica, feed, Seq("c_nationkey"))
    s.read.parquet(replica)
      .select("c_nationkey", "n_cust", "bal_cents")
      .orderBy("c_nationkey")
  }

  /** A27 (r14): schema-compatibility publish gate
   * ([[graft.sinks.Snapshot.publishCompatible]]) — additive evolution
   * flips, breaking evolution (dropped or retyped columns readers
   * already select) is refused BEFORE a byte is written; readers keep
   * serving the prior version. A17's drift audit reports after the
   * fact; this is the gate that stops the flip up front. */
  private def qSchemaGuard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.Scratch.callDir(s, "schguard")
    val base = t(s, dir, "customer").groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        sum(cents(col("c_acctbal"))).as("bal_cents"))
    val (v1, ok1, viol1) = graft.sinks.Snapshot.publishCompatible(s, root,
      Map("cust" -> base))
    val (v2, ok2, viol2) = graft.sinks.Snapshot.publishCompatible(s, root,
      Map("cust" -> base.withColumn("avg_cents",
        expr("bal_cents div n_cust")))) // additive: allowed
    val (v3, ok3, viol3) = graft.sinks.Snapshot.publishCompatible(s, root,
      Map("cust" -> base.drop("bal_cents")
        .withColumn("n_cust", col("n_cust").cast("string")))) // breaking
    val servedRows = graft.sinks.Snapshot.read(s, root, "cust").count()
    Seq((1L, v1, ok1, viol1.size.toLong), (2L, v2, ok2, viol2.size.toLong),
        (3L, v3, ok3, viol3.size.toLong))
      .toDF("attempt", "candidate_version", "published", "n_violations")
      .withColumn("rows_served", lit(servedRows))
      .orderBy("attempt")
  }

  /** A23 (r14): snapshot version retention
   * ([[graft.sinks.Snapshot.vacuum]]) — bound the time-travel window:
   * publish three versions, vacuum to the newest two, and read BOTH
   * survivors back through the manifest. The oracle recomputes both
   * surviving rollups directly and pins `n_vacuumed` = 1 — proving
   * the expired version went away, the survivors are untouched, and
   * the current pointer still resolves. Deletion is pure namespace
   * metadata (no data read), oldest-first so a crash leaves a
   * contiguous suffix. */
  private def qSnapshotVacuum(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "vac")
    def rollup(minBal: Double) = t(s, dir, "customer")
      .filter(col("c_acctbal") > minBal)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        sum(cents(col("c_acctbal"))).as("bal_cents"))
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> rollup(-1e18)))
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> rollup(0.0)))
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> rollup(1000.0)))
    val deleted = graft.sinks.Snapshot.vacuum(s, root, keepLast = 2)
    val v2 = graft.sinks.Snapshot.read(s, root, "cust", Some(2L))
      .withColumn("version", lit(2L))
    val v3 = graft.sinks.Snapshot.read(s, root, "cust", Some(3L))
      .withColumn("version", lit(3L))
    v2.unionByName(v3)
      .withColumn("n_vacuumed", lit(deleted.size.toLong))
      .select("version", "c_nationkey", "n_cust", "bal_cents", "n_vacuumed")
      .orderBy("version", "c_nationkey")
  }

  /** A32 (r14): zero-copy incremental publish
   * ([[graft.sinks.Snapshot.publishLinked]]) — v2 rewrites only the
   * filtered facts; dims carry forward as a link to their v1 physical
   * home (one sidecar line instead of a table copy — at warehouse
   * scale the difference between a pointer flip and re-writing
   * 100 TB). The query then vacuums at keepLast = 1 — v1 MUST survive
   * (the serving version links into it; n_vacuumed pins 0) — and
   * reads the head back through the link for a segment rollup the
   * oracle recomputes from source. */
  private def qLinkedPublish(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "linked")
    val facts = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      cents(col("o_totalprice")).as("c"))
    val dims = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    graft.sinks.Snapshot.publish(s, root, Map("facts" -> facts, "dims" -> dims))
    val (_, linked) = graft.sinks.Snapshot.publishLinked(s, root,
      Map("facts" -> facts.filter(col("o_orderkey") % 2 === 0)))
    val deleted = graft.sinks.Snapshot.vacuum(s, root, keepLast = 1)
    val (pv, ts) = graft.sinks.Snapshot.readAll(s, root, Seq("facts", "dims"))
    ts("facts").join(ts("dims"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), sum("c").as("rev_cents"))
      .withColumn("pinned_version", lit(pv))
      .withColumn("dims_home", lit(linked("dims")))
      .withColumn("n_vacuumed", lit(deleted.size.toLong))
      .orderBy("c_mktsegment")
  }

  /** A34 (r14): namespace integrity check
   * ([[graft.sinks.Snapshot.fsck]]) — the invariants A32 links rely
   * on hold under this library's operations; an out-of-band `rm -rf`
   * violates them silently until someone reads. The query builds a
   * linked namespace, then SIMULATES exactly that operator error
   * (deleting a link's physical home directly on disk): fsck must
   * flag precisely the dangling link, keep every healthy row 'ok',
   * and report the emptied version. Pure namespace metadata — no
   * data read. */
  private def qFsck(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "fsck")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> cust))
    graft.sinks.Snapshot.publish(s, root, Map("nat" -> nat))
    graft.sinks.Snapshot.publishLinked(s, root,
      Map("cust" -> cust.filter(col("c_custkey") % 2 === 0)))
    // out-of-band deletion of v2's physical home: v3's nat link dangles
    val p = new org.apache.hadoop.fs.Path(s"$root/v2/nat")
    val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    hfs.delete(p, true): Unit
    // planted eraseKeys crash residue (post-swap, pre-cleanup): the
    // bak half survives NEXT TO the live table → 'stale-erase-residue'
    // (delete the residue; ADVICE r15 — renaming it back would clobber
    // the live table). Residue with the live dir MISSING is the
    // 'crashed-erase' case, covered by SnapshotSpec.
    hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v1/.erase_bak_cust")): Unit
    graft.sinks.Snapshot.fsck(s, root)
      .orderBy("version", "table_name")
  }

  /** A41 (r17): namespace repair ([[graft.sinks.Snapshot.fsckRepair]])
   * — fsck's documented recoveries applied by code instead of a
   * runbook: the query PLANTS both erase-residue classes (a stale
   * backup next to the live cust — post-swap unerased bytes that must
   * be deleted, never renamed back — and a crashed nat erase caught
   * between its two renames, scrubbed half complete), repairs, and
   * proves the taxonomy's own rules held: the report rows, a clean
   * fsck (zero non-ok rows pinned), cust served intact, and nat
   * served as the SCRUBBED half (the erasure completed — restoring
   * the backup would have resurrected the erased rows). All counts
   * recomputed by DuckDB from source tables. */
  private def qFsckRepair(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.Scratch.callDir(s, "fsck_repair")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> cust, "nat" -> nat))
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // stale residue next to the live cust (post-swap pre-cleanup)
    cust.limit(5).write.parquet(s"$root/v1/.erase_bak_cust")
    // crashed erase of nat between the renames: scrubbed tmp complete,
    // live dir moved aside — exactly eraseKeys' steps 1-2
    nat.filter(col("n_nationkey") < 10).write.parquet(s"$root/v1/.erase_tmp_nat")
    require(hfs.rename(new org.apache.hadoop.fs.Path(s"$root/v1/nat"),
      new org.apache.hadoop.fs.Path(s"$root/v1/.erase_bak_nat")),
      "fsck repair query: failed to stage the crashed erase")
    val rep = graft.sinks.Snapshot.fsckRepair(s, root)
      .select(lit("repair").as("stage"),
        concat(lit("v"), col("version").cast("string"), lit("/"),
          col("table_name")).as("item"),
        concat(col("issue"), lit(":"), col("action")).as("detail"),
        lit(0L).as("n"))
    val nonOk = graft.sinks.Snapshot.fsck(s, root)
      .filter(col("status") =!= "ok").count()
    def served(tb: String, df: DataFrame) = df
      .agg(count(lit(1)).as("n"))
      .select(lit("serve").as("stage"), lit(s"$tb@v1").as("item"),
        lit("").as("detail"), col("n"))
    rep.unionAll(Seq(("fsck", "non_ok_rows", "", nonOk))
        .toDF("stage", "item", "detail", "n"))
      .unionAll(served("cust", graft.sinks.Snapshot.read(s, root, "cust")))
      .unionAll(served("nat", graft.sinks.Snapshot.read(s, root, "nat")))
      .orderBy("stage", "item")
  }

  /** A41 (r18): replica-backed dangling-link repair
   * ([[graft.sinks.Snapshot.fsckRepair]] `fromReplica`) — the one
   * fsck issue r17's repair verb left as a runbook step ("restore
   * from an A39 replica"), now executed by code: the query publishes
   * v1 (cust + nat physical) and v2 (nat rewritten, cust carried as
   * a LINK to v1), replicates the namespace BEFORE any damage (the
   * DR discipline — a replica taken after the loss holds the loss),
   * then simulates the out-of-band `rm -rf` of v1/cust that leaves
   * v2's link dangling. Repair must copy v1/cust back from the
   * replica, CHECKSUM-PROVE the copy against the replica source
   * before installing it (a corrupt restore never serves), and leave
   * fsck fully clean — pinned by the zero non-ok count and by
   * re-reading cust through the repaired link at head with a count
   * the oracle recomputes from source. */
  private def qFsckRestore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.Scratch.callDir(s, "fsck_restore")
    val rep = graft.Scratch.callDir(s, "fsck_restore_rep")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> cust, "nat" -> nat))
    graft.sinks.Snapshot.publishLinked(s, root,
      Map("nat" -> nat.filter(col("n_nationkey") < 10)))
    graft.sinks.Snapshot.replicate(s, root, rep)
    // out-of-band deletion AFTER replication: v2's cust link dangles
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(s"$root/v1/cust"), true): Unit
    val repaired = graft.sinks.Snapshot
      .fsckRepair(s, root, fromReplica = Some(rep))
      .select(lit("repair").as("stage"),
        concat(lit("v"), col("version").cast("string"), lit("/"),
          col("table_name")).as("item"),
        concat(col("issue"), lit(":"), col("action")).as("detail"),
        lit(0L).as("n"))
    val nonOk = graft.sinks.Snapshot.fsck(s, root)
      .filter(!col("status").isin("ok", "linked-ok")).count()
    def served(item: String, df: DataFrame) = df
      .agg(count(lit(1)).as("n"))
      .select(lit("serve").as("stage"), lit(item).as("item"),
        lit("").as("detail"), col("n"))
    repaired.unionAll(Seq(("fsck", "non_ok_rows", "", nonOk))
        .toDF("stage", "item", "detail", "n"))
      .unionAll(served("cust@head", graft.sinks.Snapshot.read(s, root, "cust")))
      .unionAll(served("nat@head", graft.sinks.Snapshot.read(s, root, "nat")))
      .orderBy("stage", "item")
  }

  /** A42 (r18): bulk age-based ref GC
   * ([[graft.sinks.Snapshot.gcRefs]]) — the lifecycle verb a team
   * with CI-created branches needs: three versions, prod tagged at
   * v1, two experiment branches (dev1 at v2's chain via branch(),
   * dev2 likewise at v3), then one sweep at cutoff 0 with a planted
   * deterministic `asOf` (one past the newest A37 timestamp — every
   * chain is "idle"). The sweep must take dev1+dev2 AND their
   * `-mergebase` companions, refuse to touch prod (release-name
   * guard) or the kept ref, and the follow-up vacuum at keepLast=1
   * must reclaim exactly the newly unrooted v2 (v1 stays: prod pins
   * it; v3 is head) — the report pins swept names, surviving refs,
   * vacuumed versions, and a head read-back count the oracle
   * recomputes from source. */
  private def qRefGc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.Scratch.callDir(s, "ref_gc")
    val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
    graft.sinks.Snapshot.publish(s, root, Map("nat" -> nat))
    graft.sinks.Snapshot.tag(s, root, "prod", 1L)
    graft.sinks.Snapshot.publish(s, root,
      Map("nat" -> nat.filter(col("n_nationkey") < 20)))
    graft.sinks.Snapshot.branch(s, root, "dev1", "prod")
    graft.sinks.Snapshot.tag(s, root, "dev1", 2L) // park dev1 on v2
    graft.sinks.Snapshot.publish(s, root,
      Map("nat" -> nat.filter(col("n_nationkey") < 10)))
    graft.sinks.Snapshot.branch(s, root, "dev2", "prod")
    graft.sinks.Snapshot.tag(s, root, "dev2", 3L)
    graft.sinks.Snapshot.tag(s, root, "keepme", 3L)
    val asOf = graft.sinks.Snapshot.history(s, root)
      .agg(max("ts_ms")).head().getLong(0) + 1L
    val swept = graft.sinks.Snapshot.gcRefs(s, root, olderThanMs = 0L,
      asOfMs = Some(asOf), keep = Seq("keepme"))
    val vacuumed = graft.sinks.Snapshot.vacuum(s, root, keepLast = 1)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val surviving = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("TAG."))
      .filterNot(_.startsWith("TAG.tmp.")).map(_.drop(4)).sorted.toSeq
    val headRows = graft.sinks.Snapshot.read(s, root, "nat").count()
    (swept.map { case (n, v) => ("swept", n, v) } ++
      surviving.map(n => ("kept", n, 0L)) ++
      vacuumed.map(v => ("vacuumed", s"v$v", v)) ++
      Seq(("serve", "nat@head", headRows)))
      .toDF("stage", "item", "n").orderBy("stage", "item")
  }

  /** A33 (r14): storage accounting per version
   * ([[graft.sinks.Snapshot.storageReport]]) — the chargeback /
   * capacity view the A31 catalog's logical rows hide: how much of
   * each version is physical vs served through A32 links. Three
   * versions: a full publish, then two linked publishes each
   * rewriting ONE table — the report must show exactly one physical
   * and one linked table for both, with the linked row mass pinned.
   * Physical bytes are codec-dependent and stay out of the oracle
   * (SnapshotSpec asserts them). */
  private def qStorageReport(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "storage")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> cust, "nat" -> nat))
    graft.sinks.Snapshot.publishLinked(s, root,
      Map("cust" -> cust.filter(col("c_custkey") % 2 === 0)))
    graft.sinks.Snapshot.publishLinked(s, root,
      Map("nat" -> nat.filter(col("n_nationkey") < 10)))
    graft.sinks.Snapshot.storageReport(s, root)
      .select("version", "n_physical", "n_linked", "logical_rows", "linked_rows")
      .orderBy("version")
  }

  /** A31 (r14): snapshot version catalog
   * ([[graft.sinks.Snapshot.catalog]]) — the datasets-page
   * introspection row: two published versions with different table
   * sets, v1 tagged 'prod', head at v2; per-(version, table) row
   * counts read back from the actual version dirs (footer-only
   * counts), currency and tags resolved from the live manifest/tag
   * files — the oracle recomputes every count from the source. */
  private def qSnapshotCatalog(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "cat")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> cust, "nat" -> nat))
    graft.sinks.Snapshot.publish(s, root,
      Map("cust" -> cust.filter(col("c_custkey") % 2 === 0)))
    graft.sinks.Snapshot.tag(s, root, "prod", 1L)
    graft.sinks.Snapshot.catalog(s, root)
      .orderBy("version", "table_name")
  }

  /** A30 (r14): right-to-erasure across snapshot history
   * ([[graft.sinks.Snapshot.eraseKeys]]) — two published versions
   * (v1 tagged 'prod'), then every customer with custkey ≡ 0 (mod 10)
   * erased from BOTH; the output re-reads each version post-erasure
   * and proves the subject gone (`erased_present` must be 0 — read
   * back from disk, not echoed) alongside the surviving row/balance
   * totals the oracle recomputes independently. */
  private def qEraseHistory(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "erase")
    def cust(minBal: Double) = t(s, dir, "customer")
      .filter(col("c_acctbal") > minBal)
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).as("bal_cents"))
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> cust(-1e18)))
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> cust(0.0)))
    graft.sinks.Snapshot.tag(s, root, "prod", 1L)
    val keys = t(s, dir, "customer")
      .filter(col("c_custkey") % 10 === 0).select(col("c_custkey"))
    val removed = graft.sinks.Snapshot.eraseKeys(s, root, "cust", "c_custkey", keys)
    removed.map { case (v, n) =>
      graft.sinks.Snapshot.read(s, root, "cust", Some(v))
        .agg(
          count(lit(1)).as("rows_after"),
          sum(when(col("c_custkey") % 10 === 0, 1L).otherwise(0L))
            .as("erased_present"),
          sum(col("bal_cents")).as("bal_cents_after"))
        .withColumn("version", lit(v))
        .withColumn("removed", lit(n))
    }.reduce(_ unionByName _)
      .select("version", "rows_after", "removed", "erased_present",
        "bal_cents_after")
      .orderBy("version")
  }

  /** A29 (r14): consistent multi-table snapshot read
   * ([[graft.sinks.Snapshot.readAll]]) — facts and dim read PINNED to
   * the single version the 'prod' tag named, while a newer version
   * (with a filtered dim — the torn-read hazard) is already published:
   * per-table readTag calls re-resolve the tag per call and can serve
   * a fact/dim mix across versions with no error anywhere. The output
   * carries the pinned version (the D18 lineage stamp rule); the
   * oracle recomputes the v1 derivation directly. */
  private def qSnapshotReadAll(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "readall")
    def facts(mod: Long) = t(s, dir, "orders")
      .filter(col("o_orderkey") % mod === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("rev_cents"))
    val dim = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    graft.sinks.Snapshot.publish(s, root,
      Map("orders" -> facts(7), "customer" -> dim))
    graft.sinks.Snapshot.tag(s, root, "prod", 1L)
    graft.sinks.Snapshot.publish(s, root,
      Map("orders" -> facts(3),
        "customer" -> dim.filter(col("c_nationkey") < 13)))
    val (v, ts) = graft.sinks.Snapshot.readAll(s, root,
      Seq("orders", "customer"), tag = Some("prod"))
    ts("orders")
      .join(ts("customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"), sum("rev_cents").as("rev_cents"))
      .withColumn("pinned_version", lit(v))
      .orderBy("c_nationkey")
  }

  /** A28 (r14): policy-driven column masking
   * ([[graft.operators.Masking.applyPolicy]]) — the release
   * projection decided by a GOVERNANCE RELATION, not code: keep the
   * key, pseudonymize the name (sha256 — stable joinability), prefix-
   * truncate the segment, generalize balances to 100-dollar bands;
   * c_nationkey is deliberately ABSENT from the policy and must be
   * dropped (default-deny — a new sensitive column cannot leak
   * through a stale policy). */
  private def qMaskPolicy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = t(s, dir, "customer").select(
      col("c_custkey"), col("c_name"), col("c_mktsegment"),
      cents(col("c_acctbal")).as("acctbal_cents"), col("c_nationkey"))
    val policy = Seq(
      ("c_custkey", "keep", 0L),
      ("c_name", "sha256", 0L),
      ("c_mktsegment", "prefix", 2L),
      ("acctbal_cents", "bucket", 10000L))
      .toDF("column", "action", "param")
    graft.operators.Masking.applyPolicy(cust, policy).orderBy("c_custkey")
  }

  /** A24 (r14): gated publish ([[graft.sinks.Snapshot.publishChecked]])
   * — attempt 1 publishes a consistent fact+dim pair under an FK rule
   * and must flip; attempt 2 writes a TORN extract (dim missing the
   * high nations) and must count every dangling fact key and REFUSE
   * the flip — readers keep serving v1. The abort path is A19's
   * crashed-publish invisibility: no flip, no torn read, orphan
   * overwritten by the next publish. */
  private def qPublishGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.Scratch.callDir(s, "gate")
    val facts = t(s, dir, "orders").filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("rev_cents"))
    val dimFull = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val rules = Seq(graft.sinks.Snapshot.FkCheck(
      "orders", "o_custkey", "customer", "c_custkey"))
    val (v1, ok1, rep1) = graft.sinks.Snapshot.publishChecked(s, root,
      Map("orders" -> facts, "customer" -> dimFull), rules)
    val (v2, ok2, rep2) = graft.sinks.Snapshot.publishChecked(s, root,
      Map("orders" -> facts,
        "customer" -> dimFull.filter(col("c_nationkey") < 13)), rules)
    val cur = graft.sinks.Snapshot.currentVersion(s, root)
    Seq((1L, v1, ok1, rep1.head._2, cur), (2L, v2, ok2, rep2.head._2, cur))
      .toDF("attempt", "candidate_version", "published", "fk_violations",
        "current_version")
      .orderBy("attempt")
  }

  /** A18 (r14): version-guarded upsert (TableSink.upsertVersioned) —
   * last-writer-wins MERGE for OUT-OF-ORDER feeds: the newer batch
   * (ver 2, every third key) is applied FIRST and a full older
   * backfill (ver 1) arrives after it; order-trusting upsert would
   * regress those keys, the version guard must not. Replays are
   * convergent (LWW is commutative + idempotent), so the bench's
   * repeated executions re-merge onto the same table harmlessly.
   * Oracle computes the converged end state per key in SQL. */
  private def qUpsertVersioned(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("c"))
    val path = s"${graft.Scratch.root(s)}/upsert_ver_${new java.io.File(dir).getName}"
    val newer = orders.filter(col("k") % 3 === 0)
      .select(col("k"), col("c"), lit(2L).as("ver"))
    val older = orders.select(col("k"), (col("c") + 5L).as("c"), lit(1L).as("ver"))
    graft.sinks.TableSink.upsertVersioned(s, path, newer, Seq("k"), "ver")
    graft.sinks.TableSink.upsertVersioned(s, path, older, Seq("k"), "ver")
    s.read.parquet(path).select("k", "c", "ver").orderBy("k")
  }

  /** A14: malformed-record quarantine (sources/CsvLines.scala) — the
   * reference's line reader silently NULLs unparseable input
   * (JSONReader.java:42-57); at 100 TB that silence is unbudgeted
   * data loss. PERMISSIVE parse with a corrupt-record column keeps
   * good rows typed, bad rows quarantined with their raw bytes. The
   * query builds deterministic CSV lines (every 97th order gets an
   * unparseable numeric field), parses, and emits parse results +
   * quarantine; the oracle replays the conditional in SQL. */
  private def qCsvQuarantine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val lines = t(s, dir, "orders").select(col("o_orderkey").as("src_key"),
      concat_ws(",", col("o_orderkey"), col("o_orderpriority"),
        concat(when(col("o_orderkey") % 97 === 0, lit("x")).otherwise(lit("")),
          cents(col("o_totalprice")))).as("line"))
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("pr", StringType), StructField("v", LongType)))
    graft.sources.CsvLines.parseWithQuarantine(lines, "line", schema)
      .select("src_key", "k", "pr", "v", "is_corrupt", "quarantine")
      .orderBy("src_key")
  }

  /** A10c/D6 companion (r13): changelog (CDC) apply with deletes —
   * [[graft.sinks.TableSink.applyCdc]] replays three deterministic
   * Debezium-shaped batches over the orders table. Batch 0 bootstraps
   * (every key upserted); batches 1–2 touch keys `k % 4 IN (b, 3)`
   * and mark `k % 6 = b` as deletes, so the sequence exercises
   * update-after-update, delete-after-update, AND re-insert-after-
   * delete (e.g. key 7: upserted in 0, deleted in 1, re-upserted
   * in 2). The oracle replays the changelog in SQL: final state =
   * each key's max-batch touch, kept iff that touch was an upsert. */
  private def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("base_cents"))
    val path = s"${graft.Scratch.root(s)}/cdc_${new java.io.File(dir).getName}"
    for (b <- 0 to 2) {
      val touched =
        if (b == 0) orders
        else orders.filter(col("o_orderkey") % 4 === b || col("o_orderkey") % 4 === 3)
      val delta = touched.select(
        col("o_orderkey"),
        (col("base_cents") + b).as("upd_cents"),
        lit(b.toLong).as("src_batch"),
        when(lit(b) > 0 && col("o_orderkey") % 6 === b, "D").otherwise("U").as("_op"))
      graft.sinks.TableSink.applyCdc(s, path, delta, Seq("o_orderkey"))
    }
    s.read.parquet(path).orderBy("o_orderkey")
  }

  /** A10d (r13): partition-tree compaction —
   * [[graft.sinks.TableSink.compactPartitioned]] rewrites each
   * `col=value` leaf of a date-partitioned fact independently (plain
   * `compact` rejects partitioned layouts). The query plants a
   * deliberately fragmented layout (round-robin repartition(6) before
   * a partitionBy write → ~6 small files per date), compacts every
   * leaf to one file, and re-aggregates from the compacted table; the
   * oracle replays the aggregate on the RAW events table, so equality
   * proves the rewrite preserved every row. MaintenanceSpec asserts
   * the file mechanics (counts drop, layout/pruning intact). */
  private def qCompactPartitioned(s: SparkSession, dir: String): DataFrame = {
    val path = s"${graft.Scratch.root(s)}/compactp_${new java.io.File(dir).getName}"
    val ev = withEventTime(t(s, dir, "events"))
      .withColumn("event_date", col("ts").cast("date"))
      .select(col("event_date"), col("event_id"), cents(col("value")).as("c"))
    graft.sinks.TableSink.writeTruncate(
      ev.repartition(6), path, partitionBy = Seq("event_date"))
    graft.sinks.TableSink.compactPartitioned(s, path): Unit
    s.read.parquet(path)
      .groupBy("event_date")
      .agg(count(lit(1)).as("n"), sum("c").as("sum_cents"),
        sum("event_id").as("sum_ids"))
      .select(col("event_date").cast("string").as("event_date"),
        col("n"), col("sum_cents"), col("sum_ids"))
      .orderBy("event_date")
  }

  /** A15 (r13): exactly-once incremental file ingest
   * ([[graft.sources.IngestLedger.ingestIncremental]]) — six
   * deterministic JSON arrivals ingested across two runs with a
   * full idempotence replay in between (run 1: batches 0–3; rerun:
   * must ingest 0; run 2: batches 4–5). The output listing is the
   * ledger (deterministically-named per-file outputs + atomic
   * staging rename), so the re-run can only skip or overwrite —
   * never duplicate. The oracle aggregates the RAW events table:
   * equality proves no arrival was lost or double-ingested. */
  private def qIngest(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.root(s)}/ingest_${new java.io.File(dir).getName}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val ev = withEventTime(t(s, dir, "events"))
      .select(col("event_id"), col("event_type"), cents(col("value")).as("c"))
    def stageBatch(b: Int): Unit = {
      val stage = s"$root/stage_$b"
      ev.filter(col("event_id") % 6 === b).coalesce(1)
        .write.mode("overwrite").json(stage)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part file in $stage"))
      val dest = new org.apache.hadoop.fs.Path(s"$root/in/batch_$b.json")
      fs.mkdirs(dest.getParent)
      fs.delete(dest, false)
      if (!fs.rename(part, dest))
        throw new java.io.IOException(s"stage rename failed for batch $b")
    }
    def ingest(): Int = graft.sources.IngestLedger.ingestIncremental(
      s, s"$root/in", s"$root/out",
      df => df.withColumn("is_purchase", col("event_type") === "purchase"),
      suffix = ".json")
    (0 until 4).foreach(stageBatch)
    ingest(): Unit
    val rerun = ingest() // idempotence: everything already ledgered
    require(rerun == 0, s"re-run must ingest nothing, got $rerun")
    (4 until 6).foreach(stageBatch)
    ingest(): Unit
    s.read.parquet(s"$root/out/part_*")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("sum_cents"),
        sum(when(col("is_purchase"), 1L).otherwise(0L)).as("n_purchase"))
      .orderBy("event_type")
  }

  /** A12 (oracled, ADVICE r12): the CLI's end-to-end path — the same
   * flatDenorm-with-lookups → TableSink.writeTruncate → read-back
   * round trip `Run simple-with-lookups` drives — summarized through
   * the C31 order-independent tableChecksum, so the driver's DuckDB
   * replay value-checks the CLI surface instead of smoke-counting it.
   * Doubles render engine-dependently, so money/quantity columns are
   * checksummed in cents space and the date as its ISO string.
   *
   * Cost profile (VERDICT r15 #9): ~5.5 s at sf0.1, and the cost IS
   * the contract under test — one flagship denorm compute (~2 s: the
   * 3-table join + lookups that q_flat_denorm itself benches), one
   * full parquet truncate-write of the 600k-row result, one complete
   * read-back, and the order-independent full-table checksum (every
   * column of every row hashed — by definition a second full pass).
   * Nothing here is harness overhead: dropping any leg (write,
   * read-back, or checksum) stops exercising the CLI surface the row
   * exists to value-check. */
  private def qCliRun(s: SparkSession, dir: String): DataFrame = {
    val out = s"${graft.Scratch.root(s)}/cli_run_${new java.io.File(dir).getName}"
    graft.sinks.TableSink.writeTruncate(
      Denorm.flatDenorm(s, dir, performLookups = true), out)
    val back = s.read.parquet(out).select(
      col("c_custkey"), col("c_name"), col("c_nationkey"), col("o_orderkey"),
      cents(col("o_totalprice")).as("total_cents"),
      // flatDenorm keeps the source's midnight TIMESTAMP; render the DATE
      col("o_orderdate").cast("date").cast("string").as("o_date"),
      col("o_orderpriority"), col("l_linenumber"),
      cents(col("l_quantity")).as("qty_cents"),
      cents(col("l_extendedprice")).as("price_cents"))
    graft.operators.Profile.tableChecksum(back,
      Seq("c_custkey", "c_name", "c_nationkey", "o_orderkey", "total_cents",
        "o_date", "o_orderpriority", "l_linenumber", "qty_cents", "price_cents"))
  }

  /** A12 (mask verb, FULL-oracled r15): the CLI `mask` release path —
   * [[graft.pipelines.Run.maskTable]] parses the policy string,
   * applies the default-deny A28 projection, truncate-loads, and the
   * query reads the RELEASED table back so the oracle hash-checks the
   * actual on-disk artifact, not the in-plan projection (the
   * q_cli_run write→read-back pattern). */
  private def qCliMask(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.callDir(s, "cli_mask")
    graft.pipelines.Run.maskTable(s, dir, "customer",
      "c_custkey:keep,c_name:sha256,c_mktsegment:prefix:3", out): Unit
    s.read.parquet(out).orderBy("c_custkey")
  }

  /** A35 (r16): snapshot BRANCHES — the experimentation surface a
   * governed warehouse needs: a branch is a TAG that
   * [[graft.sinks.Snapshot.publishToRef]] advances, each publish
   * basing on the REF's own head (prod and dev interleave in one
   * version log without seeing each other), unchanged tables carried
   * by `_LINKS` reference, the A27 gate run against the branch head,
   * promote = a metadata-only retag. The query builds the full
   * lifecycle — branch, two divergent dev publishes interleaved with
   * a prod publish, promote — and emits every (ref, table) row count
   * at each stage; DuckDB recomputes all of them from the source
   * tables, so isolation BOTH ways and the promote flip are
   * value-checked, not smoke-counted. */
  private def qSnapshotBranch(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "branch")
    val cust = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
    val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> cust, "nat" -> nat))
    graft.sinks.Snapshot.tag(s, root, "prod", 1L)
    graft.sinks.Snapshot.tag(s, root, "dev", 1L)
    graft.sinks.Snapshot.publishToRef(s, root, "dev",
      Map("cust" -> cust.filter(col("c_custkey") % 2 === 0)))
    graft.sinks.Snapshot.publishToRef(s, root, "prod",
      Map("nat" -> nat.filter(col("n_nationkey") < 10)))
    graft.sinks.Snapshot.publishToRef(s, root, "dev",
      Map("cust" -> cust.filter(col("c_custkey") % 4 === 0)))
    def row(stage: String, ref: String, table: String) =
      graft.sinks.Snapshot.readTag(s, root, table, ref)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(stage).as("stage"), lit(ref).as("ref"),
          lit(table).as("table_name"), col("n_rows"))
    val before = Seq(("prod", "cust"), ("prod", "nat"),
      ("dev", "cust"), ("dev", "nat")).map { case (r, t) => row("diverged", r, t) }
    // promote: prod now serves the validated dev state — metadata only
    graft.sinks.Snapshot.tag(s, root, "prod",
      graft.sinks.Snapshot.tagVersion(s, root, "dev"))
    val after = Seq(("prod", "cust"), ("prod", "nat"))
      .map { case (r, t) => row("promoted", r, t) }
    (before ++ after).reduce(_ unionAll _).orderBy("stage", "ref", "table_name")
  }

  /** A36 (r16): three-way branch MERGE with conflict detection
   * ([[graft.sinks.Snapshot.mergeRef]]) — what A35's promote-by-retag
   * cannot do: promote REPLACES prod with the branch head, discarding
   * anything prod published while the branch lived; merge keeps both
   * sides' non-conflicting changes by comparing each table's PHYSICAL
   * HOME on branch head / target head / recorded merge base
   * ([[graft.sinks.Snapshot.branch]]), then publishing a links-only
   * version — zero bytes moved. The query runs the lifecycle twice:
   * dev edits cust (twice) while prod edits nat → merge #1 must serve
   * dev's cust AND prod's nat; then prod edits ord while dev edits
   * cust again → merge #2 must take both, proving the merge base
   * advanced (a stale base would re-flag cust/nat as conflicts).
   * Every (stage, ref, table) count is recomputed by DuckDB from the
   * source tables. Conflict refusal, schema-gate refusal, and
   * nothing-to-merge refusal are SnapshotSpec's. */
  private def qBranchMerge(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "branch_merge")
    val cust = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
    val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
    val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
    graft.sinks.Snapshot.publish(s, root,
      Map("cust" -> cust, "nat" -> nat, "ord" -> ord))
    graft.sinks.Snapshot.tag(s, root, "prod", 1L)
    graft.sinks.Snapshot.branch(s, root, "dev", "prod")
    graft.sinks.Snapshot.publishToRef(s, root, "dev",
      Map("cust" -> cust.filter(col("c_custkey") % 2 === 0)))
    graft.sinks.Snapshot.publishToRef(s, root, "prod",
      Map("nat" -> nat.filter(col("n_nationkey") < 10)))
    graft.sinks.Snapshot.publishToRef(s, root, "dev",
      Map("cust" -> cust.filter(col("c_custkey") % 4 === 0)))
    def row(stage: String, ref: String, table: String) =
      graft.sinks.Snapshot.readTag(s, root, table, ref)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(stage).as("stage"), lit(ref).as("ref"),
          lit(table).as("table_name"), col("n_rows"))
    val diverged = Seq("cust", "nat", "ord").flatMap(tb =>
      Seq(row("diverged", "prod", tb), row("diverged", "dev", tb)))
    val (v1, homes1) = graft.sinks.Snapshot.mergeRef(s, root, "dev", "prod")
    require(homes1("cust") == 4L && homes1("nat") == 3L && homes1("ord") == 1L,
      s"branch merge: wrong chosen homes $homes1 at v$v1")
    val merged = Seq("cust", "nat", "ord").map(tb => row("merged", "prod", tb))
    // round 2: new divergence from the ADVANCED base — a stale base
    // would see cust/nat changed-on-both and refuse
    graft.sinks.Snapshot.publishToRef(s, root, "prod",
      Map("ord" -> ord.filter(col("o_orderkey") % 3 === 0)))
    graft.sinks.Snapshot.publishToRef(s, root, "dev",
      Map("cust" -> cust.filter(col("c_custkey") % 8 === 0)))
    graft.sinks.Snapshot.mergeRef(s, root, "dev", "prod")
    val remerged = Seq("cust", "nat", "ord").map(tb => row("remerged", "prod", tb))
    (diverged ++ merged ++ remerged).reduce(_ unionAll _)
      .orderBy("stage", "ref", "table_name")
  }

  /** A39 (r16): namespace replication with checksum verification
   * ([[graft.sinks.Snapshot.replicate]]) — the DR/migration story:
   * every manifest-reachable version copied to a fresh root, each
   * physical table proven LOGICALLY equal by order-independent
   * checksum (one aggregate per side, the C31 discipline), sidecars
   * and tags verbatim, the replica's manifest flipped LAST. The query
   * replicates a two-version namespace (one linked carry) and emits
   * the copy report PLUS serve-side proof rows — counts read back
   * through the REPLICA's own manifest, tag, and copied links. */
  private def qReplicate(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.callDir(s, "replicate")
    val (src, dst) = (s"$base/src", s"$base/dst")
    val cust = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
    val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
    graft.sinks.Snapshot.publish(s, src, Map("cust" -> cust, "nat" -> nat))
    graft.sinks.Snapshot.publishLinked(s, src,
      Map("cust" -> cust.filter(col("c_custkey") % 2 === 0)))
    graft.sinks.Snapshot.tag(s, src, "prod", 2L)
    val rep = graft.sinks.Snapshot.replicate(s, src, dst)
      .select(lit("copy").as("stage"),
        concat(lit("v"), col("version").cast("string"), lit("/"),
          col("table_name")).as("item"),
        col("n_rows"), col("checksum_match").as("ok"))
    def served(tb: String) = graft.sinks.Snapshot.readTag(s, dst, tb, "prod")
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("serve").as("stage"), lit(s"$tb@prod").as("item"),
        col("n_rows"), lit(true).as("ok"))
    rep.unionAll(served("cust")).unionAll(served("nat"))
      .orderBy("stage", "item")
  }

  /** A38 (r16): ROW-LEVEL three-way merge
   * ([[graft.sinks.Snapshot.mergeRefRows]]) — git's merge at row
   * granularity: two pipelines editing the SAME table on a branch and
   * on prod merge automatically when their changed KEY sets are
   * disjoint (or convergent); only a key both sides changed to
   * different values refuses. The query drives updates on disjoint
   * key classes, a branch-side delete class, and target-side inserts
   * through the full branch lifecycle, then reads the merged table
   * prod serves; DuckDB recomputes the exact per-key outcome from the
   * source table. Conflict refusal (update/update and delete/update
   * races) is SnapshotSpec's. */
  private def qRowMerge(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "row_merge")
    val baseT = t(s, dir, "customer").select(col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"), cents(col("c_acctbal")).as("bal"))
    graft.sinks.Snapshot.publish(s, root, Map("accts" -> baseT))
    graft.sinks.Snapshot.tag(s, root, "prod", 1L)
    graft.sinks.Snapshot.branch(s, root, "dev", "prod")
    // branch: +10 on the k%3==0 class, delete the k%21==2 class
    // (⊂ k%3==2 — provably disjoint from every other change set)
    val branchT = baseT.filter(!(col("k") % 21 === 2))
      .withColumn("bal",
        when(col("k") % 3 === 0, col("bal") + 10L).otherwise(col("bal")))
    graft.sinks.Snapshot.publishToRef(s, root, "dev", Map("accts" -> branchT))
    // target: +100 on the k%3==1 class, insert a shifted new-key block
    val targetT = baseT
      .withColumn("bal",
        when(col("k") % 3 === 1, col("bal") + 100L).otherwise(col("bal")))
      .unionAll(baseT.filter(col("k") <= 80)
        .select((col("k") + 1000000L).as("k"), col("seg"),
          (col("bal") + 5L).as("bal")))
    graft.sinks.Snapshot.publishToRef(s, root, "prod", Map("accts" -> targetT))
    graft.sinks.Snapshot.mergeRefRows(s, root, "dev", "prod",
      Map("accts" -> Seq("k")))
    graft.sinks.Snapshot.readTag(s, root, "accts", "prod").orderBy("k")
  }

  /** A40 (r17): branch/ref lifecycle GC
   * ([[graft.sinks.Snapshot.deleteRef]]) — the removal path the
   * A35/A36 surface lacked: a branch and its recorded merge base are
   * vacuum GC roots, so an abandoned experiment pinned its whole
   * version chain against retention forever. The query runs the
   * lifecycle: branch diverges (dev edits cust, prod edits nat), a
   * keepLast=1 sweep reclaims NOTHING while the branch lives (n=0
   * pinned by the oracle), the dead branch is deleted (ref + merge
   * base in one verb), and the SAME sweep now reclaims exactly the
   * branch-exclusive version — while v1 survives via the link
   * fixpoint (prod's head still carries cust by reference into it)
   * and prod serves both tables untouched. Reclamation is pure
   * namespace metadata; the serve rows prove no data the live side
   * reaches was harmed. */
  private def qBranchGc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.Scratch.callDir(s, "branch_gc")
    val cust = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
    val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> cust, "nat" -> nat))
    graft.sinks.Snapshot.tag(s, root, "prod", 1L)
    graft.sinks.Snapshot.branch(s, root, "dev", "prod")
    graft.sinks.Snapshot.publishToRef(s, root, "dev",
      Map("cust" -> cust.filter(col("c_custkey") % 2 === 0)))   // v2: dev head
    graft.sinks.Snapshot.publishToRef(s, root, "prod",
      Map("nat" -> nat.filter(col("n_nationkey") < 10)))        // v3: prod head
    val pre = graft.sinks.Snapshot.vacuum(s, root, keepLast = 1)
    val devRows = graft.sinks.Snapshot.readTag(s, root, "cust", "dev").count()
    graft.sinks.Snapshot.deleteRef(s, root, "dev")
    val post = graft.sinks.Snapshot.vacuum(s, root, keepLast = 1)
    require(post == Seq(2L),
      s"branch gc: expected exactly the branch-exclusive v2 reclaimed, got $post")
    def served(tb: String) = graft.sinks.Snapshot.readTag(s, root, tb, "prod")
      .agg(count(lit(1)).as("n"))
      .select(lit("serve").as("stage"), lit(s"$tb@prod").as("item"), col("n"))
    Seq(("live", "cust@dev", devRows),
        ("live", "n_reclaimed", pre.size.toLong),
        ("gc", "n_reclaimed", post.size.toLong))
      .toDF("stage", "item", "n")
      .unionAll(served("cust")).unionAll(served("nat"))
      .orderBy("stage", "item")
  }

  /** A37 (r16): publish history ([[graft.sinks.Snapshot.history]]) —
   * the `git log` of the namespace: every version-creating operation
   * (plain publish, linked/branch publish, three-way merge, gated
   * candidate) records a `_COMMIT` sidecar BEFORE the manifest flip,
   * so even a gate-aborted candidate's orphan dir documents what was
   * attempted. The query drives one of each op — including an
   * FK-violating publishChecked that must abort — and reads the full
   * log back (wall-clock stamp projected away, the storageReport
   * bytes rule); the oracle is the fully-determined literal relation
   * the construction implies. */
  private def qSnapshotHistory(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "history")
    val cust = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
    val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
    graft.sinks.Snapshot.publish(s, root, Map("cust" -> cust, "nat" -> nat))
    graft.sinks.Snapshot.tag(s, root, "prod", 1L)
    graft.sinks.Snapshot.branch(s, root, "dev", "prod")
    graft.sinks.Snapshot.publishToRef(s, root, "dev",
      Map("cust" -> cust.filter(col("c_custkey") % 2 === 0)))
    graft.sinks.Snapshot.publishToRef(s, root, "prod",
      Map("nat" -> nat.filter(col("n_nationkey") < 10)))
    graft.sinks.Snapshot.mergeRef(s, root, "dev", "prod")
    val fact = nat.select((col("n_nationkey") + 1000L).as("fk"))
    val dim = nat.select(col("n_nationkey").as("k"))
    val (_, ok, _) = graft.sinks.Snapshot.publishChecked(s, root,
      Map("fact" -> fact, "dim" -> dim),
      Seq(graft.sinks.Snapshot.FkCheck("fact", "fk", "dim", "k")))
    require(!ok, "snapshot history: the FK-violating publish must abort")
    graft.sinks.Snapshot.history(s, root)
      .select("version", "op", "parent", "written", "ref", "reachable")
      .orderBy("version")
  }

  /** A12+A33 (storage verb, FULL-oracled r15; reshaped r16 per
   * VERDICT #9): the CLI `snapshot` → `storage` round trip — the full
   * gated publish + prod tag, then the `--link` rerun through the
   * SAME A27 gate (the r15 fix) in its REAL nightly shape: one small
   * changed table (the per-segment summary) rewrites, the big denorm
   * carries forward by `_LINKS` reference. r15 republished the whole
   * denorm as the "changed" table, which both paid the flagship
   * denorm twice (the board's #2 row at 7.5 s, construction-dominated)
   * and demonstrated zero links — the linked-carry version halves the
   * cost AND makes the storage view account an actual physical-vs-
   * linked split. Physical bytes are codec-dependent and stay out of
   * the oracle (q_storage_report precedent); every row/table count is
   * recomputed by DuckDB from the source tables. */
  private def qCliStorage(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.callDir(s, "cli_storage")
    val denorm = Denorm.flatDenorm(s, dir, performLookups = true)
    val (v1, ok1, _) = graft.sinks.Snapshot.publishCompatible(
      s, root, Map("denorm" -> denorm))
    require(ok1, "cli storage: initial publish refused")
    graft.sinks.Snapshot.tag(s, root, "prod", v1)
    val summary = denorm.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("l_extendedprice"))).as("price_cents"))
    require(graft.sinks.Snapshot.schemaViolations(
        s, root, Map("summary" -> summary)).isEmpty,
      "cli storage: linked republish refused by the schema gate")
    val (v2, links) = graft.sinks.Snapshot.publishLinked(
      s, root, Map("summary" -> summary))
    require(links == Map("denorm" -> v1),
      s"cli storage: denorm must carry by reference to v1, got $links")
    graft.sinks.Snapshot.tag(s, root, "prod", v2)
    graft.sinks.Snapshot.storageReport(s, root)
      .select("version", "n_physical", "n_linked", "logical_rows", "linked_rows")
      .orderBy("version")
  }

  /** A39+A12 (r17, VERDICT r16 #4): the CLI `replicate` verb's exact
   * library path driven end-to-end on the CLI's own nightly namespace
   * — the governed snapshot lifecycle (gated denorm publish + prod
   * tag + zero-copy linked summary republish, the q_cli_storage
   * shape) replicated to a fresh root with per-table checksum proof,
   * then SERVED back through the replica's own manifest, tag, and
   * copied `_LINKS` (the linked denorm must resolve through the
   * copied sidecar). The namespace is the BUILDING-segment nightly
   * slice: the segment filter PUSHES through the denorm's joins to
   * the customer scan (the q_cli_storage r15 lesson — a replication
   * row must measure the replicate machinery, not pay the full
   * flagship construction twice), while every replicate mechanism
   * (copy, checksum, sidecar/tag transport, manifest-last flip)
   * exercises identically. The oracle recomputes the copy report and
   * both serve counts from source tables; `Run replicate` wraps
   * precisely this call (refusals smoke-verified: published
   * destination, checksum mismatch aborts before the flip). */
  private def qCliReplicate(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.callDir(s, "cli_repl")
    val (src, dst) = (s"$base/src", s"$base/dst")
    val denorm = Denorm.flatDenorm(s, dir, performLookups = true)
      .filter(col("c_mktsegment") === "BUILDING")
    val (v1, ok1, _) = graft.sinks.Snapshot.publishCompatible(
      s, src, Map("denorm" -> denorm))
    require(ok1, "cli replicate: initial publish refused")
    graft.sinks.Snapshot.tag(s, src, "prod", v1)
    val summary = denorm.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("l_extendedprice"))).as("price_cents"))
    val (v2, links) = graft.sinks.Snapshot.publishLinked(
      s, src, Map("summary" -> summary))
    require(links == Map("denorm" -> v1),
      s"cli replicate: denorm must carry by reference to v1, got $links")
    graft.sinks.Snapshot.tag(s, src, "prod", v2)
    val rep = graft.sinks.Snapshot.replicate(s, src, dst)
      .select(lit("copy").as("stage"),
        concat(lit("v"), col("version").cast("string"), lit("/"),
          col("table_name")).as("item"),
        col("n_rows"), col("checksum_match").as("ok"))
    def served(tb: String) = graft.sinks.Snapshot.readTag(s, dst, tb, "prod")
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("serve").as("stage"), lit(s"$tb@prod").as("item"),
        col("n_rows"), lit(true).as("ok"))
    rep.unionAll(served("denorm")).unionAll(served("summary"))
      .orderBy("stage", "item")
  }

  /** A13: SCD type-2 dimension build (operators/Scd.scala) — the
   * change log of per-user event types becomes an effective-dated
   * dimension: change points only, valid_from/valid_to intervals,
   * is_current flag. One shuffle; deterministic under timestamp ties
   * via the event_id tie-break. */
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    val ev = withEventTime(t(s, dir, "events"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"))
    graft.operators.Scd.type2(ev, "user_id", "ts_us",
        Seq("event_type"), tieCol = "event_id")
      .select(col("user_id"), col("event_type"),
        col("valid_from").as("valid_from_us"), col("valid_to").as("valid_to_us"),
        col("is_current"))
      .orderBy("user_id", "valid_from_us", "event_type")
  }

  /** A16 (r13): ORC sink/source fidelity — the second columnar
   * format a lake migration meets (Hive-era tables are ORC). A typed
   * slice of orders — longs, strings WITH a null carve, timestamps,
   * cents-scaled money — is written to ORC, read back, and rolled
   * up; the oracle computes the same rollup from the ORIGINAL
   * parquet table, so any type coercion, timezone shift, or null
   * mangling in the ORC writer/reader path fails the row rather
   * than slipping through a same-path roundtrip compare. */
  private def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = s"${graft.Scratch.root(s)}/orc_${new java.io.File(dir).getName}"
    t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        nullif(col("o_orderpriority"), lit("1-URGENT")).as("prio"),
        col("o_orderdate"), cents(col("o_totalprice")).as("cents"))
      .write.mode("overwrite").orc(path)
    val back = s.read.orc(path)
    back.groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"),
        sum(when(col("prio").isNull, 1L).otherwise(0L)).as("n_null_prio"),
        countDistinct("o_custkey").as("n_cust"))
      .orderBy("yr")
  }

  /** A17 (r13): schema-drift audit on schema-on-read ingest — the
   * complement of A14's quarantine: A14 catches MALFORMED lines,
   * this catches well-formed lines whose producer started emitting
   * NEW KEYS the declared schema silently drops (`from_json`
   * discards unknown fields — an upstream v2 rollout costs data with
   * no error anywhere). One codegen'd `json_object_keys` pass →
   * explode → anti-filter against the declared key set →
   * map-side-combined count per unknown key. Drift is carved
   * deterministically (two conditional fields on orderkey moduli;
   * `to_json` omits null fields, so presence is the conditional). */
  private def qSchemaDrift(s: SparkSession, dir: String): DataFrame = {
    val declared = Seq("order_key", "priority")
    val lines = t(s, dir, "orders").select(to_json(struct(
      col("o_orderkey").as("order_key"),
      col("o_orderpriority").as("priority"),
      when(col("o_orderkey") % 37 === 0, lit("v2")).as("src_v2_field"),
      when(col("o_orderkey") % 101 === 0, col("o_totalprice")).as("exp_tag")))
      .as("line"))
    lines.select(explode(expr("json_object_keys(line)")).as("key"))
      .filter(!col("key").isInCollection(declared))
      .groupBy("key").agg(count(lit(1)).as("n_rows"))
      .orderBy("key")
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_json_roundtrip", qJsonRoundtrip,
      """SELECT CAST(n_nationkey AS BIGINT) AS nation_n_nationkey, n_name AS nation_n_name,
         CAST(n_regionkey AS BIGINT) AS nation_n_regionkey
         FROM nation ORDER BY nation_n_nationkey"""),
    QuerySpec("q_join_merge", qJoinMerge,
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
         FROM customer JOIN orders ON c_custkey = o_custkey ORDER BY o_orderkey"""),
    QuerySpec("q_lookup_replace", qLookupReplace,
      """SELECT c_custkey, c_name,
         COALESCE(n_name, CAST(customer.c_nationkey AS VARCHAR)) AS c_nationkey,
         c_acctbal, c_mktsegment
         FROM customer LEFT JOIN nation ON customer.c_nationkey = nation.n_nationkey
         ORDER BY c_custkey"""),
    QuerySpec("q_nest", qNest,
      """SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
         COALESCE(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)), 0) / 100.0 AS sum_total
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey"""),
    QuerySpec("q_nest_chunked", qNestChunked,
      """SELECT l_orderkey AS o_orderkey,
         CAST(CEIL(COUNT(*) / 5.0) AS BIGINT) AS n_chunks,
         CAST(COUNT(*) AS BIGINT) AS n_items
         FROM lineitem GROUP BY l_orderkey ORDER BY o_orderkey"""),
    // chunk replay: chunks are contiguous slices of the
    // l_linenumber-sorted items at limit 4
    QuerySpec("q_conform", qConform,
      """WITH x AS (SELECT l_orderkey, l_linenumber,
             (ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1) // 4 AS chunk
           FROM lineitem),
         c AS (SELECT l_orderkey AS o_orderkey, chunk,
             CAST(COUNT(*) AS BIGINT) AS n_in_chunk,
             CAST(MIN(l_linenumber) AS BIGINT) AS first_ln,
             CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln
           FROM x GROUP BY 1, 2)
         SELECT c.o_orderkey, o.o_orderstatus, CAST(NULL AS VARCHAR) AS audit_note,
           c.n_in_chunk, c.first_ln, c.sum_ln
         FROM c JOIN orders o ON c.o_orderkey = o.o_orderkey
         ORDER BY c.o_orderkey, c.first_ln"""),
    QuerySpec("q_flat_denorm", qFlatDenorm,
      """SELECT c_custkey, c_name,
         COALESCE(n_name, CAST(customer.c_nationkey AS VARCHAR)) AS c_nationkey,
         o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate,
         o_orderpriority, l_linenumber, l_quantity, l_extendedprice
         FROM customer LEFT JOIN nation ON customer.c_nationkey = nation.n_nationkey
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         ORDER BY o_orderkey, l_linenumber"""),
    QuerySpec("q_nested_denorm", qNestedDenorm,
      """SELECT c_custkey, c_name, CAST(COUNT(j.l_orderkey) AS BIGINT) AS n_items,
         COALESCE(SUM(CAST(ROUND(j.l_extendedprice * 100, 0) AS BIGINT) *
                   CAST(ROUND((1 - j.l_discount) * 100, 0) AS BIGINT)), 0) / 10000.0 AS sum_rev
         FROM customer LEFT JOIN
         (SELECT o_custkey, l_orderkey, l_extendedprice, l_discount
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey) j
         ON c_custkey = j.o_custkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey"""),
    // both snapshot versions recomputed directly from the source
    // tables: equality proves publish->flip->read fidelity and v1
    // immutability after v2's publish.
    QuerySpec("q_snapshot_publish", qSnapshotPublish,
      """WITH v1 AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal
           FROM customer GROUP BY 1),
         v2 AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal
           FROM customer WHERE c_acctbal > 0 GROUP BY 1),
         u AS (SELECT CAST(2 AS BIGINT) AS version, n_name, n_cust, bal
             FROM v2 JOIN nation ON c_nationkey = n_nationkey
           UNION ALL
           SELECT CAST(1 AS BIGINT), n_name, n_cust, bal
             FROM v1 JOIN nation ON c_nationkey = n_nationkey)
         SELECT version, n_name, n_cust, bal AS bal_cents
         FROM u ORDER BY version, n_name"""),
    // delta-refresh equivalence: v3 must equal the FULL recompute over
    // all slices, v1 the first slice's rollup (refresh never rescanned
    // history, yet converged to the rebuild).
    QuerySpec("q_mv_refresh", qMvRefresh,
      """WITH o AS (SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS rev
           FROM orders),
         v3 AS (SELECT CAST(3 AS BIGINT) AS version, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(rev) AS BIGINT) AS rev_cents,
             CAST(MAX(rev) AS BIGINT) AS max_cents
           FROM o GROUP BY 2),
         v1 AS (SELECT CAST(1 AS BIGINT), o_orderpriority,
             CAST(COUNT(*) AS BIGINT), CAST(SUM(rev) AS BIGINT),
             CAST(MAX(rev) AS BIGINT)
           FROM o WHERE o_orderkey % 3 = 0 GROUP BY 2)
         SELECT * FROM v3 UNION ALL SELECT * FROM v1
         ORDER BY version, o_orderpriority"""),
    // anti-join ground truth for the post-delete table; `surgical`
    // (some-but-not-all files touched) must come back TRUE.
    QuerySpec("q_targeted_delete", qTargetedDelete,
      """WITH keep AS (SELECT o_orderpriority,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS rev
           FROM orders WHERE o_custkey NOT IN (3, 7, 11))
         SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(rev) AS BIGINT) AS rev_cents, TRUE AS surgical
         FROM keep GROUP BY 1 ORDER BY 1"""),
    // the I/U/D delta recomputed directly from the two slices: U where
    // the positive-only rollup differs, D where a nation loses every
    // customer, I impossible here (filtering never adds keys).
    QuerySpec("q_snapshot_changes", qSnapshotChanges,
      """WITH v1 AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal
           FROM customer GROUP BY 1),
         v2 AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal
           FROM customer WHERE c_acctbal > 0 GROUP BY 1)
         SELECT CASE WHEN v1.c_nationkey IS NULL THEN 'I'
             WHEN v2.c_nationkey IS NULL THEN 'D' ELSE 'U' END AS op,
           COALESCE(v2.c_nationkey, v1.c_nationkey) AS c_nationkey,
           CASE WHEN v2.c_nationkey IS NULL THEN v1.n_cust ELSE v2.n_cust END
             AS n_cust,
           CASE WHEN v2.c_nationkey IS NULL THEN v1.bal ELSE v2.bal END
             AS bal_cents
         FROM v1 FULL JOIN v2 ON v1.c_nationkey = v2.c_nationkey
         WHERE v1.c_nationkey IS NULL OR v2.c_nationkey IS NULL
            OR v1.n_cust <> v2.n_cust OR v1.bal <> v2.bal
         ORDER BY c_nationkey"""),
    // pinned phase = the FULL rollup (tag still v1 after v2 lands);
    // promoted phase = the positive-only rollup under tag_version 2.
    QuerySpec("q_snapshot_tag", qSnapshotTag,
      """WITH v1 AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal_cents
           FROM customer GROUP BY 1),
         v2 AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal_cents
           FROM customer WHERE c_acctbal > 0 GROUP BY 1)
         SELECT 'pinned' AS phase, CAST(1 AS BIGINT) AS tag_version,
           c_nationkey, n_cust, bal_cents FROM v1
         UNION ALL
         SELECT 'promoted', CAST(2 AS BIGINT), c_nationkey, n_cust, bal_cents
         FROM v2
         ORDER BY phase, c_nationkey"""),
    // all four phases replayed: raw and coarse audits, the suppressed
    // release's size and floor (>= 3 by construction), the publish.
    QuerySpec("q_governed_release", qGovernedRelease,
      """WITH raw AS (SELECT c_nationkey, c_mktsegment,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) // 100000 AS b,
             COUNT(*) AS n
           FROM customer GROUP BY 1, 2, 3),
         coarse AS (SELECT c_nationkey, c_mktsegment,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) // 500000 AS b,
             COUNT(*) AS n
           FROM customer GROUP BY 1, 2, 3),
         rel AS (SELECT * FROM coarse WHERE n >= 3)
         SELECT 'audit_raw' AS phase, CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN n < 3 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(n) AS BIGINT) AS anonymity_level, MIN(n) >= 3 AS ok
         FROM raw
         UNION ALL
         SELECT 'audit_coarse', CAST(SUM(n) AS BIGINT),
           CAST(SUM(CASE WHEN n < 3 THEN n ELSE 0 END) AS BIGINT),
           CAST(MIN(n) AS BIGINT), MIN(n) >= 3
         FROM coarse
         UNION ALL
         SELECT 'audit_released', CAST(SUM(n) AS BIGINT), CAST(0 AS BIGINT),
           CAST(MIN(n) AS BIGINT), TRUE
         FROM rel
         UNION ALL
         SELECT 'published_v1', CAST(SUM(n) AS BIGINT), CAST(0 AS BIGINT),
           CAST(MIN(n) AS BIGINT), TRUE
         FROM rel
         ORDER BY phase"""),
    // the END STATE of the replica after the feed: exactly v2's
    // definition recomputed from source — a feed that dropped or
    // invented any row diverges here.
    QuerySpec("q_change_apply", qChangeApply,
      """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
             AS bal_cents
         FROM customer WHERE c_nationkey < 15
         GROUP BY 1
         HAVING SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) > 0
         ORDER BY c_nationkey"""),
    // additive flips (attempts 1-2); the breaking attempt is refused
    // with THREE violations (bal_cents dropped, n_cust retyped, and
    // v2's additive avg_cents also missing — the gate compares against
    // the CURRENT version, not the original); served rows = nations.
    QuerySpec("q_schema_guard", qSchemaGuard,
      """WITH served AS (SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n
           FROM customer)
         SELECT CAST(1 AS BIGINT) AS attempt, CAST(1 AS BIGINT) AS candidate_version,
           TRUE AS published, CAST(0 AS BIGINT) AS n_violations, n AS rows_served
         FROM served
         UNION ALL SELECT 2, 2, TRUE, 0, n FROM served
         UNION ALL SELECT 3, 3, FALSE, 3, n FROM served
         ORDER BY attempt"""),
    // both surviving rollups recomputed from source; n_vacuumed pinned
    // to the literal 1 — the expired version count is deterministic.
    QuerySpec("q_snapshot_vacuum", qSnapshotVacuum,
      """WITH v2 AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal_cents
           FROM customer WHERE c_acctbal > 0 GROUP BY 1),
         v3 AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal_cents
           FROM customer WHERE c_acctbal > 1000 GROUP BY 1)
         SELECT CAST(2 AS BIGINT) AS version, c_nationkey, n_cust, bal_cents,
           CAST(1 AS BIGINT) AS n_vacuumed FROM v2
         UNION ALL
         SELECT CAST(3 AS BIGINT), c_nationkey, n_cust, bal_cents,
           CAST(1 AS BIGINT) FROM v3
         ORDER BY version, c_nationkey"""),
    // v2 = even orders joined v1 dims (served through the link);
    // lineage constants pinned: version 2, dims homed at v1, vacuum
    // deleted nothing (v1 link-protected).
    QuerySpec("q_linked_publish", qLinkedPublish,
      """SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS rev_cents,
           CAST(2 AS BIGINT) AS pinned_version,
           CAST(1 AS BIGINT) AS dims_home,
           CAST(0 AS BIGINT) AS n_vacuumed
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey % 2 = 0
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    // every count recomputed from the source; version/table/tag
    // layout is the query's own fixed construction.
    // the query's own constructed namespace + planted out-of-band
    // deletion: the verdict table is fully determined.
    QuerySpec("q_fsck", qFsck,
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'cust', 'stale-erase-residue', CAST(1 AS BIGINT)),
           (1, 'cust', 'ok', 1),
           (2, '', 'empty-version', 2),
           (3, 'cust', 'ok', 3),
           (3, 'nat', 'dangling-link', 2)
         ) t(version, table_name, status, home_version)
         ORDER BY version, table_name"""),
    // A41: both planted residue classes repaired by their own rules,
    // fsck clean after (zero non-ok rows), cust intact, nat serving
    // the SCRUBBED half — the erased rows stay erased.
    QuerySpec("q_fsck_repair", qFsckRepair,
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
         n10 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation WHERE n_nationkey < 10)
         SELECT * FROM (
           SELECT 'fsck' AS stage, 'non_ok_rows' AS item, '' AS detail, CAST(0 AS BIGINT) AS n
           UNION ALL SELECT 'repair', 'v1/cust', 'stale-erase-residue:deleted-stale-backup', 0
           UNION ALL SELECT 'repair', 'v1/nat', 'crashed-erase:restored-scrubbed', 0
           UNION ALL SELECT 'serve', 'cust@v1', '', (SELECT n FROM c)
           UNION ALL SELECT 'serve', 'nat@v1', '', (SELECT n FROM n10)
         ) ORDER BY stage, item"""),
    // A41 fromReplica: the dangling link restored from the A39
    // replica (checksum-proved before install), fsck clean after,
    // both tables serving at head with source-recomputed counts.
    QuerySpec("q_fsck_restore", qFsckRestore,
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
         n10 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation WHERE n_nationkey < 10)
         SELECT * FROM (
           SELECT 'fsck' AS stage, 'non_ok_rows' AS item, '' AS detail, CAST(0 AS BIGINT) AS n
           UNION ALL SELECT 'repair', 'v2/cust', 'dangling-link:restored-from-replica', 0
           UNION ALL SELECT 'serve', 'cust@head', '', (SELECT n FROM c)
           UNION ALL SELECT 'serve', 'nat@head', '', (SELECT n FROM n10)
         ) ORDER BY stage, item"""),
    // A42: dev1+dev2 swept at their parked versions, prod kept by the
    // release guard and keepme by the keep-list, vacuum reclaims
    // exactly the newly unrooted v2, head still serves.
    QuerySpec("q_ref_gc", qRefGc,
      """SELECT * FROM (
           SELECT 'kept' AS stage, 'keepme' AS item, CAST(0 AS BIGINT) AS n
           UNION ALL SELECT 'kept', 'prod', 0
           UNION ALL SELECT 'serve', 'nat@head',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM nation WHERE n_nationkey < 10)
           UNION ALL SELECT 'swept', 'dev1', 2
           UNION ALL SELECT 'swept', 'dev2', 3
           UNION ALL SELECT 'vacuumed', 'v2', 2
         ) ORDER BY stage, item"""),
    // three versions of the query's own construction: full publish,
    // then two one-table linked publishes; linked row mass recomputed.
    QuerySpec("q_storage_report", qStorageReport,
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
         ce AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer
                WHERE c_custkey % 2 = 0),
         na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation),
         nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation
                WHERE n_nationkey < 10)
         SELECT CAST(1 AS BIGINT) AS version, CAST(2 AS BIGINT) AS n_physical,
           CAST(0 AS BIGINT) AS n_linked,
           (SELECT n FROM c) + (SELECT n FROM na) AS logical_rows,
           CAST(0 AS BIGINT) AS linked_rows
         UNION ALL
         SELECT 2, 1, 1, (SELECT n FROM ce) + (SELECT n FROM na),
           (SELECT n FROM na)
         UNION ALL
         SELECT 3, 1, 1, (SELECT n FROM ce) + (SELECT n FROM nf),
           (SELECT n FROM ce)
         ORDER BY version"""),
    QuerySpec("q_snapshot_catalog", qSnapshotCatalog,
      """SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS version, 'cust' AS table_name,
             CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_rows,
             FALSE AS is_current, 'prod' AS tags
           UNION ALL
           SELECT 1, 'nat', (SELECT COUNT(*) FROM nation), FALSE, 'prod'
           UNION ALL
           SELECT 2, 'cust',
             (SELECT COUNT(*) FROM customer WHERE c_custkey % 2 = 0),
             TRUE, ''
         ) ORDER BY version, table_name"""),
    // both versions' post-erasure state recomputed from the source:
    // v1 = all customers, v2 = positive balances, minus the mod-10
    // erasure set; erased_present is Spark's read-back, constant-0 here.
    QuerySpec("q_erase_history", qEraseHistory,
      """WITH c AS (SELECT c_custkey, c_acctbal,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
           FROM customer),
         v AS (SELECT 1 AS version, * FROM c
               UNION ALL SELECT 2, * FROM c WHERE c_acctbal > 0.0)
         SELECT CAST(version AS BIGINT) AS version,
           CAST(COUNT(*) FILTER (WHERE c_custkey % 10 <> 0) AS BIGINT) AS rows_after,
           CAST(COUNT(*) FILTER (WHERE c_custkey % 10 = 0) AS BIGINT) AS removed,
           CAST(0 AS BIGINT) AS erased_present,
           CAST(SUM(cents) FILTER (WHERE c_custkey % 10 <> 0) AS BIGINT) AS bal_cents_after
         FROM v GROUP BY version ORDER BY version"""),
    // the v1 (tagged) derivation recomputed directly: mod-7 facts
    // joined against the FULL dim — any torn mix with v2's filtered
    // dim or mod-3 facts changes counts.
    QuerySpec("q_snapshot_read_all", qSnapshotReadAll,
      """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS rev_cents,
           CAST(1 AS BIGINT) AS pinned_version
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey % 7 = 0
         GROUP BY c_nationkey ORDER BY c_nationkey"""),
    // every mask action replayed; c_nationkey proven dropped by the
    // schema compare (default-deny).
    QuerySpec("q_mask_policy", qMaskPolicy,
      """SELECT c_custkey, sha256(c_name) AS c_name,
           substr(c_mktsegment, 1, 2) || '***' AS c_mktsegment,
           CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT)
             // 10000 * 10000 AS BIGINT) AS acctbal_cents
         FROM customer ORDER BY c_custkey"""),
    // attempt 1 flips (0 violations); attempt 2's dangling-key count
    // is the torn extract's high-nation order rows; readers stay on 1.
    QuerySpec("q_publish_gate", qPublishGate,
      """SELECT CAST(1 AS BIGINT) AS attempt, CAST(1 AS BIGINT) AS candidate_version,
           TRUE AS published, CAST(0 AS BIGINT) AS fk_violations,
           CAST(1 AS BIGINT) AS current_version
         UNION ALL
         SELECT CAST(2 AS BIGINT), CAST(2 AS BIGINT), FALSE,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_orderkey % 7 = 0 AND c.c_nationkey >= 13),
           CAST(1 AS BIGINT)
         ORDER BY attempt"""),
    // LWW convergence: ver-2 keys (every third) keep their first-batch
    // value; everything else takes the older backfill's c+5 at ver 1
    QuerySpec("q_upsert_versioned", qUpsertVersioned,
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
           CAST(CASE WHEN o_orderkey % 3 = 0
             THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
             ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) + 5 END AS BIGINT) AS c,
           CAST(CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ver
         FROM orders ORDER BY k"""),
    QuerySpec("q_csv_quarantine", qCsvQuarantine,
      """WITH l AS (SELECT o_orderkey, o_orderpriority,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders)
         SELECT CAST(o_orderkey AS BIGINT) AS src_key,
           CAST(o_orderkey AS BIGINT) AS k,
           o_orderpriority AS pr,
           CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE cents END AS v,
           (o_orderkey % 97 = 0) AS is_corrupt,
           CASE WHEN o_orderkey % 97 = 0 THEN
             CAST(o_orderkey AS VARCHAR) || ',' || o_orderpriority || ',x' ||
             CAST(cents AS VARCHAR) END AS quarantine
         FROM l ORDER BY 1"""),
    // Changelog replay: final state per key = its max-batch touch,
    // kept iff that touch was an upsert ('U').
    QuerySpec("q_cdc_apply", qCdcApply,
      """WITH d AS (SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS base_cents
           FROM orders),
         batches AS (
           SELECT 0 AS b, k, base_cents + 0 AS upd_cents, 'U' AS op FROM d
           UNION ALL
           SELECT 1, k, base_cents + 1,
             CASE WHEN k % 6 = 1 THEN 'D' ELSE 'U' END FROM d WHERE k % 4 IN (1, 3)
           UNION ALL
           SELECT 2, k, base_cents + 2,
             CASE WHEN k % 6 = 2 THEN 'D' ELSE 'U' END FROM d WHERE k % 4 IN (2, 3)),
         last AS (SELECT k, MAX(b) AS b FROM batches GROUP BY k)
         SELECT t.k AS o_orderkey, t.upd_cents, CAST(t.b AS BIGINT) AS src_batch
         FROM batches t JOIN last l ON t.k = l.k AND t.b = l.b
         WHERE t.op = 'U'
         ORDER BY t.k"""),
    // Compaction preserves every row: replay the aggregate on the RAW
    // events table.
    QuerySpec("q_compact_partitioned", qCompactPartitioned,
      """WITH e AS (SELECT CAST(ts AS DATE) AS event_date, event_id,
           CAST(round(value * 100, 0) AS BIGINT) AS c FROM events)
         SELECT CAST(event_date AS VARCHAR) AS event_date,
           CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS sum_cents,
           CAST(SUM(event_id) AS BIGINT) AS sum_ids
         FROM e GROUP BY 1 ORDER BY 1"""),
    // Ingest replay: the raw events table IS the union of all six
    // arrivals — equality proves exactly-once across runs and reruns.
    QuerySpec("q_ingest", qIngest,
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchase
         FROM events GROUP BY 1 ORDER BY 1"""),
    // The CLI round trip replayed: flat denorm (q_flat_denorm's join
    // tree) rendered to stable strings, then the C31 checksum shape.
    QuerySpec("q_cli_run", qCliRun,
      """WITH f AS (SELECT c_custkey, c_name,
             COALESCE(n_name, CAST(customer.c_nationkey AS VARCHAR)) AS c_nationkey,
             o_orderkey,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS total_cents,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date,
             o_orderpriority, l_linenumber,
             CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS qty_cents,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS price_cents
           FROM customer LEFT JOIN nation ON customer.c_nationkey = nation.n_nationkey
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey),
         h AS (SELECT CAST(concat('0x', substr(md5(
             CAST(c_custkey AS VARCHAR) || ':' || COALESCE(c_name, '') || ':' ||
             COALESCE(c_nationkey, '') || ':' || CAST(o_orderkey AS VARCHAR) || ':' ||
             CAST(total_cents AS VARCHAR) || ':' || COALESCE(o_date, '') || ':' ||
             COALESCE(o_orderpriority, '') || ':' || CAST(l_linenumber AS VARCHAR) || ':' ||
             CAST(qty_cents AS VARCHAR) || ':' || CAST(price_cents AS VARCHAR)), 1, 8)) AS BIGINT) AS h
           FROM f)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h) AS BIGINT) AS checksum_sum,
           CAST(BIT_XOR(h) AS BIGINT) AS checksum_xor
         FROM h"""),
    // the released artifact replayed: same default-deny projection
    // semantics as q_mask_policy, read back from disk by the query.
    QuerySpec("q_cli_mask", qCliMask,
      """SELECT c_custkey, sha256(c_name) AS c_name,
           substr(c_mktsegment, 1, 3) || '***' AS c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    // A35: every (stage, ref, table) count recomputed from the source
    // tables — the branch/promote lifecycle is the query's own fixed
    // construction.
    QuerySpec("q_snapshot_branch", qSnapshotBranch,
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
         c4 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer WHERE c_custkey % 4 = 0),
         na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation),
         n10 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation WHERE n_nationkey < 10)
         SELECT * FROM (
           SELECT 'diverged' AS stage, 'dev' AS ref, 'cust' AS table_name, (SELECT n FROM c4) AS n_rows
           UNION ALL SELECT 'diverged', 'dev', 'nat', (SELECT n FROM na)
           UNION ALL SELECT 'diverged', 'prod', 'cust', (SELECT n FROM c)
           UNION ALL SELECT 'diverged', 'prod', 'nat', (SELECT n FROM n10)
           UNION ALL SELECT 'promoted', 'prod', 'cust', (SELECT n FROM c4)
           UNION ALL SELECT 'promoted', 'prod', 'nat', (SELECT n FROM na)
         ) ORDER BY stage, ref, table_name"""),
    // A36: the three-way merge lifecycle replayed — each (stage, ref,
    // table) count from the side whose physical home must win; the
    // second merge's rows prove the merge base advanced.
    QuerySpec("q_branch_merge", qBranchMerge,
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
         c4 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer WHERE c_custkey % 4 = 0),
         c8 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer WHERE c_custkey % 8 = 0),
         na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation),
         n10 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation WHERE n_nationkey < 10),
         o AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
         o3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders WHERE o_orderkey % 3 = 0)
         SELECT * FROM (
           SELECT 'diverged' AS stage, 'dev' AS ref, 'cust' AS table_name, (SELECT n FROM c4) AS n_rows
           UNION ALL SELECT 'diverged', 'dev', 'nat', (SELECT n FROM na)
           UNION ALL SELECT 'diverged', 'dev', 'ord', (SELECT n FROM o)
           UNION ALL SELECT 'diverged', 'prod', 'cust', (SELECT n FROM c)
           UNION ALL SELECT 'diverged', 'prod', 'nat', (SELECT n FROM n10)
           UNION ALL SELECT 'diverged', 'prod', 'ord', (SELECT n FROM o)
           UNION ALL SELECT 'merged', 'prod', 'cust', (SELECT n FROM c4)
           UNION ALL SELECT 'merged', 'prod', 'nat', (SELECT n FROM n10)
           UNION ALL SELECT 'merged', 'prod', 'ord', (SELECT n FROM o)
           UNION ALL SELECT 'remerged', 'prod', 'cust', (SELECT n FROM c8)
           UNION ALL SELECT 'remerged', 'prod', 'nat', (SELECT n FROM n10)
           UNION ALL SELECT 'remerged', 'prod', 'ord', (SELECT n FROM o3)
         ) ORDER BY stage, ref, table_name"""),
    // A39: copy report (three physical tables, checksums TRUE — a
    // mismatch refuses before the flip) + serve-side counts through
    // the replica's own manifest/tag/links.
    QuerySpec("q_replicate", qReplicate,
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
         c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer WHERE c_custkey % 2 = 0),
         na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation)
         SELECT * FROM (
           SELECT 'copy' AS stage, 'v1/cust' AS item, (SELECT n FROM c) AS n_rows, TRUE AS ok
           UNION ALL SELECT 'copy', 'v1/nat', (SELECT n FROM na), TRUE
           UNION ALL SELECT 'copy', 'v2/cust', (SELECT n FROM c2), TRUE
           UNION ALL SELECT 'serve', 'cust@prod', (SELECT n FROM c2), TRUE
           UNION ALL SELECT 'serve', 'nat@prod', (SELECT n FROM na), TRUE
         ) ORDER BY stage, item"""),
    // A38: the per-key outcome of the keyed three-way merge —
    // branch's +10/delete classes, target's +100/insert block —
    // recomputed straight from the source table.
    QuerySpec("q_row_merge", qRowMerge,
      """WITH b AS (SELECT c_custkey AS k, c_mktsegment AS seg,
           CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal FROM customer)
         SELECT * FROM (
           SELECT k, seg,
             CASE WHEN k % 3 = 0 THEN bal + 10
                  WHEN k % 3 = 1 THEN bal + 100 ELSE bal END AS bal
           FROM b WHERE k % 21 <> 2
           UNION ALL
           SELECT k + 1000000, seg, bal + 5 FROM b WHERE k <= 80
         ) ORDER BY k"""),
    // A40: the ref-GC lifecycle replayed — nothing reclaimable while
    // the branch lives (n=0), exactly the branch-exclusive version
    // after deleteRef (n=1), prod's serve counts untouched (cust
    // through the link-rescued v1, nat filtered at its head).
    QuerySpec("q_branch_gc", qBranchGc,
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
         c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer WHERE c_custkey % 2 = 0),
         n10 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation WHERE n_nationkey < 10)
         SELECT * FROM (
           SELECT 'gc' AS stage, 'n_reclaimed' AS item, CAST(1 AS BIGINT) AS n
           UNION ALL SELECT 'live', 'cust@dev', (SELECT n FROM c2)
           UNION ALL SELECT 'live', 'n_reclaimed', CAST(0 AS BIGINT)
           UNION ALL SELECT 'serve', 'cust@prod', (SELECT n FROM c)
           UNION ALL SELECT 'serve', 'nat@prod', (SELECT n FROM n10)
         ) ORDER BY stage, item"""),
    // A37: the construction fully determines the log — one row per
    // op, the aborted FK candidate visible as an unreachable orphan.
    QuerySpec("q_snapshot_history", qSnapshotHistory,
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'publish', CAST(0 AS BIGINT), 'cust,nat', '', TRUE),
           (2, 'linked', 1, 'cust', 'dev', TRUE),
           (3, 'linked', 2, 'nat', 'prod', TRUE),
           (4, 'merge', 3, '', 'prod', TRUE),
           (5, 'checked', 4, 'dim,fact', '', FALSE)
         ) AS t(version, op, parent, written, ref, reachable)
         ORDER BY version"""),
    // the snapshot-verb namespace replayed: two versions, both fully
    // physical (the verb publishes only `denorm`, so the --link rerun
    // has nothing to carry by reference); logical rows = the denorm
    // join mass recomputed from the source tables.
    QuerySpec("q_cli_storage", qCliStorage,
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey),
         seg AS (SELECT CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS c
           FROM customer JOIN orders ON o_custkey = c_custkey
           JOIN lineitem ON l_orderkey = o_orderkey)
         SELECT CAST(1 AS BIGINT) AS version, CAST(1 AS BIGINT) AS n_physical,
           CAST(0 AS BIGINT) AS n_linked, (SELECT c FROM n) AS logical_rows,
           CAST(0 AS BIGINT) AS linked_rows
         UNION ALL
         SELECT 2, 1, 1, (SELECT c FROM n) + (SELECT c FROM seg),
           (SELECT c FROM n)
         ORDER BY version"""),
    // A39+A12: the CLI replicate verb's copy report + serve-through-
    // replica counts — the denorm row count and segment count
    // recomputed from source; checksums pinned TRUE (a mismatch
    // refuses before the replica's manifest flips).
    QuerySpec("q_cli_replicate", qCliReplicate,
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           WHERE c_mktsegment = 'BUILDING')
         SELECT * FROM (
           SELECT 'copy' AS stage, 'v1/denorm' AS item, (SELECT c FROM n) AS n_rows, TRUE AS ok
           UNION ALL SELECT 'copy', 'v2/summary', CAST(1 AS BIGINT), TRUE
           UNION ALL SELECT 'serve', 'denorm@prod', (SELECT c FROM n), TRUE
           UNION ALL SELECT 'serve', 'summary@prod', CAST(1 AS BIGINT), TRUE
         ) ORDER BY stage, item"""),
    QuerySpec("q_scd2", qScd2,
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
         chg AS (SELECT *, lag(event_type) OVER
             (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
         cp AS (SELECT user_id, event_id, event_type, ts_us FROM chg
                WHERE prev IS NULL OR prev <> event_type),
         v AS (SELECT user_id, event_type, ts_us AS valid_from_us,
             lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us
           FROM cp)
         SELECT user_id, event_type, valid_from_us, valid_to_us,
           (valid_to_us IS NULL) AS is_current
         FROM v ORDER BY user_id, valid_from_us, event_type"""),
    // the same rollup from the ORIGINAL parquet table — a value that
    // mutates crossing the ORC boundary cannot cancel out here.
    QuerySpec("q_orc_roundtrip", qOrcRoundtrip,
      """WITH o AS (SELECT o_orderkey, o_custkey,
             nullif(o_orderpriority, '1-URGENT') AS prio, o_orderdate,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders)
         SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(CASE WHEN prio IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_prio,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
         FROM o GROUP BY 1 ORDER BY 1"""),
    // presence of a drifting key == its deterministic conditional
    // (to_json omits nulls), so the replay counts the conditionals.
    QuerySpec("q_schema_drift", qSchemaDrift,
      """WITH u AS (
           SELECT 'src_v2_field' AS key,
             CAST(SUM(CASE WHEN o_orderkey % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rows
           FROM orders
           UNION ALL
           SELECT 'exp_tag',
             CAST(SUM(CASE WHEN o_orderkey % 101 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           FROM orders)
         SELECT key, n_rows FROM u WHERE n_rows > 0 ORDER BY key"""),
  )
}
