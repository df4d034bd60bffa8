package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Atomic multi-table snapshot publish with version-pinned reads
 * (A19) — the "one logical commit across N tables" capability a
 * warehouse load needs and plain directory writes cannot give: a
 * nightly build that rewrites `facts` and `dims` one after the other
 * exposes readers to a torn state (new facts joined against old
 * dims). Here every publish writes a fresh immutable version
 * directory and flips ONE pointer file afterwards, so readers always
 * resolve a complete, mutually consistent table set — and old
 * versions stay readable (time travel) until explicitly vacuumed.
 *
 * Protocol (the IngestLedger publication discipline):
 *  - tables write under `root/v<N>/<table>` where N = current manifest
 *    version + 1. The version dir is invisible to readers until the
 *    manifest names it, so a crashed publish leaves dead files, never
 *    a torn read;
 *  - the manifest flip writes a fresh pointer file and swaps it in
 *    through [[Commit]]; a reader caught between its two renames sees
 *    no manifest (version 0), never a torn version, and every writer
 *    verb recovers the flip before it reads the head. Object stores
 *    emulate rename, so deploy the root on a rename-atomic filesystem
 *    or front it with a coordination service (the IngestLedger
 *    caveat, same wording by design);
 *  - the manifest's content is just the version number: everything
 *    else (the table list, schemas) is self-describing from the
 *    version directory, so there is no metadata to drift.
 *
 * Scale: a publish costs the data writes + one 8-byte pointer flip
 * regardless of table count or size; readers pay one tiny file read
 * to resolve a version, then scan parquet as usual (all pruning/
 * pushdown intact — the pointer indirection is invisible to
 * Catalyst). Concurrent publishers are NOT arbitrated beyond
 * last-flip-wins; serialize publishes externally (single nightly
 * driver — the normal deployment).
 */
object Snapshot {

  private def fs(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A pointer file holding one version number (`MANIFEST`,
   * `TAG.<name>`) and its fixed [[Commit]] residue pair. */
  private final case class Pointer(root: String, file: String) {
    private def p(n: String) = new org.apache.hadoop.fs.Path(s"$root/$n")
    val (target, tmp, bak) = (p(file), p(s"$file.tmp"), p(s"$file.bak"))
    def recover(f: org.apache.hadoop.fs.FileSystem): Unit =
      Commit.recover(f, target, tmp, bak): Unit
    /** Write-then-replace: a reader never sees a half-written pointer. */
    def flip(f: org.apache.hadoop.fs.FileSystem, version: Long): Unit = {
      val out = f.create(tmp, true)
      try out.write(version.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      Commit.replace(f, target, tmp, bak)
    }
  }

  private def manifest(root: String) = Pointer(root, "MANIFEST")

  private def readPointer(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long = {
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    finally in.close()
  }

  /** Tag names under `root`; a tag name has no dot, its residue does. */
  private def refNames(f: org.apache.hadoop.fs.FileSystem, root: String): Seq[String] =
    f.listStatus(new org.apache.hadoop.fs.Path(root)).map(_.getPath.getName)
      .collect { case n if n.startsWith("TAG.") && !n.drop(4).contains(".") => n.drop(4) }
      .toSeq

  /** The head for a verb about to write: a crashed flip recovered
   * first, so the next publish never reclaims (and clears) v1. */
  private def headVersion(spark: SparkSession, root: String): Long = {
    manifest(root).recover(fs(spark, root))
    currentVersion(spark, root)
  }

  /** Remove the ENTIRE dead orphan dir this publish is about to
   * reuse. A crashed or gate-aborted predecessor (A24's abort path
   * writes the candidate before refusing the flip) leaves tables —
   * and, for a crashed LINKED publish, a `_LINKS` sidecar — under the
   * same version number. Overwriting only the same-named tables would
   * make the new version silently serve the dead candidate's OTHER
   * tables and phantom links; a version must be exactly what its
   * publish declared. The dir is dead by definition: the manifest
   * never named it, and publishes are externally serialized (the A19
   * single-publisher contract). */
  private def clearDeadOrphan(f: org.apache.hadoop.fs.FileSystem,
      root: String, v: Long): Unit = {
    f.delete(new org.apache.hadoop.fs.Path(s"$root/v$v"), true): Unit
  }

  /** Version the manifest currently names, or 0 if never published. */
  def currentVersion(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    val mp = manifest(root).target
    if (!f.exists(mp)) 0L else readPointer(f, mp)
  }

  /** Per-version commit metadata (`v<N>/_COMMIT`, A37): one
   * tab-separated line `op  parent  written-csv  ref  epoch-ms`
   * written BEFORE the manifest flip, so even a crashed publish's
   * orphan dir records what was being attempted. Underscore-prefixed:
   * invisible to Spark scans and the directory-listing surfaces. The
   * wall-clock stamp is for operators; [[history]] callers composing
   * cross-engine oracles project it away (the storageReport bytes
   * precedent). */
  private def writeCommitMeta(f: org.apache.hadoop.fs.FileSystem,
      root: String, v: Long, op: String, written: Seq[String],
      ref: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/v$v/_COMMIT")
    val out = f.create(p, true)
    try out.write(Seq(op, (v - 1).toString, written.sorted.mkString(","),
        ref, System.currentTimeMillis().toString)
      .mkString("\t").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Publish history (A37) — the `git log` of the namespace: one row
   * per on-disk version dir with the operation that created it
   * ([[publish]] 'publish', [[publishLinked]]/[[publishToRef]]
   * 'linked', [[publishChecked]] 'checked', [[mergeRef]] 'merge'),
   * its parent (the head it appended after), the tables it physically
   * wrote, the ref it advanced ('' for tagless publishes), whether
   * the live manifest currently reaches it (orphans: false — crashed
   * or gate-aborted attempts stay visible to the operator, the A31
   * rule), and the wall-clock stamp. Versions predating this sidecar
   * read as op 'unknown' rather than failing — history must not
   * break on an old namespace. Pure metadata: listings + one tiny
   * file read per version, no data pages. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val cur = currentVersion(spark, root)
    val versions = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
      .sorted.toSeq
    val rows = versions.map { v =>
      val p = new org.apache.hadoop.fs.Path(s"$root/v$v/_COMMIT")
      val (op, parent, written, ref, ts) =
        if (!f.exists(p)) ("unknown", v - 1, "", "", 0L)
        else {
          val in = f.open(p)
          val line = try new String(
            org.apache.commons.io.IOUtils.toByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
          line.split("\t", -1) match {
            case Array(o, pa, w, r, t) => (o, pa.toLong, w, r, t.toLong)
            case _ => ("corrupt", v - 1, "", "", 0L)
          }
        }
      (v, op, parent, written, ref, v <= cur, ts)
    }
    rows.toDF("version", "op", "parent", "written", "ref", "reachable", "ts_ms")
  }

  /** Atomically CLAIM version `next` before any data write (r19,
   * VERDICT r18 #2 — multi-writer fencing): an exclusive create of
   * `_CLAIM.v<next>` (atomic on every Hadoop FS). Publishes are
   * SERIALIZED per namespace — two publishers racing to the same
   * `v<next>` would interleave Overwrite writes into one dir and flip
   * a torn version with no error anywhere; the claim makes the loser fail HERE, loudly,
   * before it has written a byte. Claims for versions the manifest
   * already names are stale by construction (that publish completed;
   * only its claim cleanup crashed) and are swept on entry. A claim
   * for the version being attempted means either a LIVE concurrent
   * publisher (the caller must back off) or a crashed one — only an
   * operator can tell which, so recovery is the explicit
   * [[releaseClaim]] ack, after which the normal dead-orphan clearing
   * makes the rerun clean. */
  private def claimVersion(f: org.apache.hadoop.fs.FileSystem,
      root: String, next: Long): Unit = {
    val cur = next - 1
    val rootP = new org.apache.hadoop.fs.Path(root)
    if (f.exists(rootP)) // first-ever publish: nothing to sweep
      f.listStatus(rootP)
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("_CLAIM.v") =>
          n.stripPrefix("_CLAIM.v").toLong }
        .filter(_ <= cur)
        .foreach(v => f.delete(
          new org.apache.hadoop.fs.Path(s"$root/_CLAIM.v$v"), false): Unit)
    val p = new org.apache.hadoop.fs.Path(s"$root/_CLAIM.v$next")
    // create-exclusive; a genuine transient IO error (claim file still
    // absent) rethrows as itself rather than masquerading as a race
    val out = try f.create(p, false)
    catch {
      case e: java.io.IOException =>
        if (f.exists(p)) throw new IllegalStateException(
          s"snapshot publish: v$next is already claimed under $root — " +
            "another publisher is racing (back off and retry), or a " +
            "previous one crashed mid-publish (verify it is dead, then " +
            "Snapshot.releaseClaim to recover)")
        else throw e
    }
    out.close()
  }

  private def releaseVersionClaim(f: org.apache.hadoop.fs.FileSystem,
      root: String, next: Long): Unit =
    f.delete(new org.apache.hadoop.fs.Path(s"$root/_CLAIM.v$next"), false): Unit

  /** Operator ack that a claim's publisher is DEAD: drop the pending
   * claim so the next publish can fence, clear the orphan, and
   * proceed. Only call after verifying no publisher is live — the
   * claim cannot distinguish crashed from slow. Returns true when a
   * claim was released. */
  def releaseClaim(spark: SparkSession, root: String): Boolean = {
    val f = fs(spark, root)
    val next = headVersion(spark, root) + 1
    val p = new org.apache.hadoop.fs.Path(s"$root/_CLAIM.v$next")
    f.delete(p, false)
  }

  /** Publish all `tables` as one atomic version; returns the new
   * version number. Readers resolving through [[read]] see either the
   * previous complete version or this one, never a mix.
   *
   * Concurrency contract: ONE publisher per namespace at a time.
   * Every version-creating verb fences itself with an atomic
   * [[claimVersion]] claim on its target version, so a second
   * publisher racing the same namespace fails loudly before writing
   * anything instead of silently interleaving (two schedulers firing
   * the same nightly job is an eventually, not an if); a crashed
   * publisher's claim is released by the operator via
   * [[releaseClaim]]. */
  def publish(
      spark: SparkSession,
      root: String,
      tables: Map[String, DataFrame]): Long = {
    require(tables.nonEmpty, "snapshot publish: no tables")
    tables.keys.foreach(n => require(n.matches("[A-Za-z0-9_]+"),
      s"snapshot publish: unsafe table name '$n'"))
    val f = fs(spark, root)
    val next = headVersion(spark, root) + 1
    claimVersion(f, root, next)
    clearDeadOrphan(f, root, next)
    writeTablesConcurrently(s"$root/v$next", tables)
    writeCommitMeta(f, root, next, "publish", tables.keys.toSeq, "")
    manifest(root).flip(f, next)
    releaseVersionClaim(f, root, next)
    next
  }

  /** Run independent publish units from a small NAMED driver pool
   * (r20 — a bounded dedicated pool, not `ExecutionContext.global`,
   * so blocking Spark actions cannot starve unrelated global-pool
   * users), each unit's jobs under one shared job group. Failure
   * discipline (ADVICE r19, medium): on the FIRST failure the group's
   * in-flight jobs are cancelled (best-effort fast-stop) and every
   * future — including the cancelled ones — is awaited before the
   * original failure rethrows, so NO unit's write can still be
   * running when the caller's recovery (releaseClaim / retry /
   * clearDeadOrphan) starts deleting and rewriting the version dir.
   * Units that have not started when a sibling fails skip their work
   * entirely. On success, returns every unit's result in order. */
  private def runUnitsCancelOnFailure[T](spark: SparkSession, desc: String,
      units: Seq[(String, () => T)]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    if (units.isEmpty) return Seq.empty
    val sc = spark.sparkContext
    val group = s"graft-$desc-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, units.size),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-$desc-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      })
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val firstFailure =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    try {
      val futures = units.map { case (label, work) =>
        Future {
          if (firstFailure.get() != null)
            throw new IllegalStateException(s"$desc: sibling unit failed, $label skipped")
          sc.setJobGroup(group, s"graft $desc: $label", interruptOnCancel = true)
          try work() finally sc.clearJobGroup()
        }.andThen { case scala.util.Failure(e) =>
          if (firstFailure.compareAndSet(null, e)) sc.cancelJobGroup(group)
        }
      }
      val results = futures.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      Option(firstFailure.get()).foreach(e => throw e)
      results.map(_.get)
    } finally pool.shutdown()
  }

  /** Write a version's tables CONCURRENTLY from a small driver thread
   * pool (r19, guide §2.6 — overlap independent jobs): each table's
   * write is an independent job into its own `v<N>/<table>` dir, so
   * one table's commit/straggler tail back-fills with the next
   * table's tasks. Bytes written, per-table layout, and the
   * manifest-flip-last atomicity are unchanged — the flip still
   * happens only after EVERY write completed (every future awaited —
   * see runUnitsCancelOnFailure for the failure discipline). */
  private def writeTablesConcurrently(dir: String,
      tables: Iterable[(String, DataFrame)]): Unit = {
    val seq = tables.toSeq
    if (seq.nonEmpty)
      runUnitsCancelOnFailure(seq.head._2.sparkSession, "publish",
        seq.map { case (name, df) =>
          name -> (() => df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name"))
        }): Unit
  }

  /** Per-version link sidecar (`v<N>/_LINKS`): `table<TAB>version`
   * lines naming the PHYSICAL home version of tables this version
   * carries by reference. Underscore-prefixed, so Spark and the
   * catalog's directory listing both ignore it as data. */
  private def linksOf(spark: SparkSession, root: String, v: Long): Map[String, Long] = {
    val f = fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/v$v/_LINKS")
    if (!f.exists(p)) Map.empty
    else {
      val in = f.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .map { line =>
          val Array(t, sv) = line.split("\t")
          t -> sv.toLong
        }.toMap
      finally in.close()
    }
  }

  /** The physical directory serving `table` at version `v`: the
   * version's own dir when the table was written there, else the link
   * target's dir. Fails loudly when the version carries the table
   * neither way. */
  private def resolveTableDir(spark: SparkSession, root: String,
      v: Long, table: String): String = {
    val f = fs(spark, root)
    val own = new org.apache.hadoop.fs.Path(s"$root/v$v/$table")
    if (f.exists(own)) own.toString
    else linksOf(spark, root, v).get(table) match {
      case Some(sv) => s"$root/v$sv/$table"
      case None => throw new IllegalArgumentException(
        s"snapshot read: v$v carries no table '$table' (not written, not linked)")
    }
  }

  /** Tables a version serves: physically written dirs plus links. */
  /** Every table version `v` serves — physically written or
   * link-carried (A32). The existence probe a writer runs before
   * deciding merge-vs-bootstrap (D28: a table absent at the current
   * version is brand-new, not an error). */
  def tables(spark: SparkSession, root: String, v: Long): Seq[String] =
    tablesOf(spark, root, v)

  private def tablesOf(spark: SparkSession, root: String, v: Long): Seq[String] = {
    val f = fs(spark, root)
    val own = f.listStatus(new org.apache.hadoop.fs.Path(s"$root/v$v"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.matches("[A-Za-z0-9_]+")).toSeq
    (own ++ linksOf(spark, root, v).keys).distinct.sorted
  }

  /** Zero-copy incremental publish (A32) — write ONLY the changed
   * tables; every other table of the current version is carried
   * forward BY REFERENCE (a `_LINKS` sidecar entry naming its physical
   * home version). [[publish]] rewrites every table on every version —
   * at warehouse scale a nightly flip of one small dim would copy the
   * 100 TB fact table; here the unchanged fact costs one sidecar line.
   *
   * - Links are FLATTENED at publish time: carrying forward a table
   *   that is itself a link copies the link's target, so every link is
   *   one hop and the vacuum protection set needs no traversal chain.
   * - Readers are oblivious: [[read]]/[[readAll]]/[[readTag]] resolve
   *   through the sidecar; pruning/pushdown hit the physical parquet
   *   exactly as before.
   * - [[vacuum]] protects link TARGETS of every surviving version
   *   (including crashed-publish orphans — an in-flight publisher may
   *   still flip them), iterated to a fixpoint so a rescued version's
   *   own targets are rescued too.
   * - [[eraseKeys]] rewrites physical homes only — every linking
   *   version observes the scrubbed bytes through the same dir, so
   *   erasure stays single-copy too.
   *
   * Returns (newVersion, linked table → its physical home version). */
  def publishLinked(
      spark: SparkSession,
      root: String,
      changed: Map[String, DataFrame]): (Long, Map[String, Long]) =
    publishLinkedFrom(spark, root, headVersion(spark, root), changed)

  /** [[publishLinked]] generalized to carry forward from an ARBITRARY
   * published version instead of the head — the primitive that makes
   * BRANCHES (A35) a composition instead of a feature: a branch is
   * just a tag whose publishes base on the tag's own head rather
   * than the global head. The new version still appends at the
   * global head (one linear version log, git-style: branches are
   * REFS into the log, not parallel logs), carrying `base`'s other
   * tables by flattened `_LINKS` reference. Vacuum already treats
   * every tag as a GC root (tag-protection + link-fixpoint rescue),
   * so a branch head and everything it references survive retention
   * sweeps automatically. */
  def publishLinkedFrom(
      spark: SparkSession,
      root: String,
      base: Long,
      changed: Map[String, DataFrame],
      ref: String = ""): (Long, Map[String, Long]) = {
    require(changed.nonEmpty, "snapshot publishLinked: no tables")
    changed.keys.foreach(n => require(n.matches("[A-Za-z0-9_]+"),
      s"snapshot publish: unsafe table name '$n'"))
    val f = fs(spark, root)
    val cur = headVersion(spark, root)
    require(base >= 0L && base <= cur,
      s"snapshot publishLinkedFrom: base v$base not published (head is v$cur)")
    val next = cur + 1
    claimVersion(f, root, next)
    clearDeadOrphan(f, root, next)
    writeTablesConcurrently(s"$root/v$next", changed)
    val carried: Map[String, Long] =
      if (base == 0L) Map.empty
      else {
        val baseLinks = linksOf(spark, root, base)
        tablesOf(spark, root, base)
          .filterNot(changed.contains)
          .map(t => t -> baseLinks.getOrElse(t, base)) // flatten to the home
          .toMap
      }
    if (carried.nonEmpty) {
      val p = new org.apache.hadoop.fs.Path(s"$root/v$next/_LINKS")
      val out = f.create(p, true)
      try out.write(carried.toSeq.sorted
        .map { case (t, sv) => s"$t\t$sv" }.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    writeCommitMeta(f, root, next, "linked", changed.keys.toSeq, ref)
    manifest(root).flip(f, next)
    releaseVersionClaim(f, root, next)
    (next, carried)
  }

  /** Branch publish (A35): advance the named ref by one version based
   * on the REF'S OWN head — prod and any number of dev/experiment
   * branches publish interleaved into one version log without seeing
   * each other's changes. The A27 schema gate runs against the REF's
   * head (the branch's readers are the contract, not the global
   * head's); violations refuse the publish with the ref untouched.
   * Create a branch with [[tag]] (a branch IS a tag this verb
   * advances); promote one with `tag(root, "prod", branchHead)` — a
   * metadata-only flip, the merge-back of a validated experiment.
   * Returns (newVersion, carriedLinks). */
  def publishToRef(
      spark: SparkSession,
      root: String,
      refName: String,
      changed: Map[String, DataFrame]): (Long, Map[String, Long]) = {
    recoveredTag(fs(spark, root), root, refName): Unit
    val base = tagVersion(spark, root, refName)
    val viol = schemaViolationsFrom(spark, root, base, changed)
    require(viol.isEmpty,
      s"snapshot publishToRef('$refName'): schema gate refused: ${viol.mkString("; ")}")
    val (v, carried) = publishLinkedFrom(spark, root, base, changed, refName)
    tag(spark, root, refName, v)
    (v, carried)
  }

  /** Create a branch for three-way merging (A36): a ref at `from`'s
   * head PLUS a recorded merge base (`TAG.<name>-mergebase`) —
   * without the base, [[mergeRef]] cannot tell "branch changed this
   * table" from "branch is merely based on an older state", and a
   * merge would resurrect stale tables. The base is itself a tag,
   * so it is a vacuum GC root: the merge's ancestor state stays
   * readable for exactly as long as the branch lives. Plain
   * [[tag]]-created branches still work with [[publishToRef]] and
   * promote-by-retag; only [[mergeRef]] requires this verb. */
  def branch(spark: SparkSession, root: String, name: String,
      from: String): Long = {
    require(!name.endsWith("-mergebase"),
      s"snapshot branch: '$name' collides with the merge-base tag namespace")
    recoveredTag(fs(spark, root), root, from): Unit
    val base = tagVersion(spark, root, from)
    tag(spark, root, s"$name-mergebase", base)
    tag(spark, root, name, base)
    base
  }

  /** Mixed publish (A38 primitive): a new version serving `written`
   * tables physically and `links` tables by reference — what a
   * row-level merge needs (the resolved table writes, everything else
   * carries by its chosen home). With `written = ∅` it is the A36
   * links-only publish: the version dir holds one `_LINKS` sidecar
   * and no data, and every home must still serve its table
   * physically, checked before the manifest flips. */
  def publishMixed(spark: SparkSession, root: String,
      written: Map[String, DataFrame], links: Map[String, Long],
      op: String = "mixed", ref: String = ""): Long = {
    require(written.nonEmpty || links.nonEmpty, "snapshot publishMixed: no tables")
    require(written.keySet.intersect(links.keySet).isEmpty,
      s"snapshot publishMixed: tables both written and linked: " +
        written.keySet.intersect(links.keySet).mkString(", "))
    (written.keys ++ links.keys).foreach(n => require(n.matches("[A-Za-z0-9_]+"),
      s"snapshot publish: unsafe table name '$n'"))
    val f = fs(spark, root)
    val cur = headVersion(spark, root)
    links.foreach { case (t, h) =>
      require(h >= 1 && h <= cur,
        s"snapshot publishMixed: home v$h for '$t' not published (head is v$cur)")
      require(f.exists(new org.apache.hadoop.fs.Path(s"$root/v$h/$t")),
        s"snapshot publishMixed: v$h does not physically home '$t'")
    }
    val next = cur + 1
    claimVersion(f, root, next)
    clearDeadOrphan(f, root, next)
    writeTablesConcurrently(s"$root/v$next", written)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v$next")): Unit
    if (links.nonEmpty) {
      val p = new org.apache.hadoop.fs.Path(s"$root/v$next/_LINKS")
      val out = f.create(p, true)
      try out.write(links.toSeq.sorted
        .map { case (t, sv) => s"$t\t$sv" }.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    writeCommitMeta(f, root, next, op, written.keys.toSeq, ref)
    manifest(root).flip(f, next)
    releaseVersionClaim(f, root, next)
    next
  }

  /** Three-way branch merge with conflict detection (A36) — the
   * git-merge semantics [[publishToRef]]'s promote-by-retag cannot
   * give: promote REPLACES prod with the branch head, silently
   * discarding anything prod published while the branch lived. Here
   * each table resolves by comparing its PHYSICAL HOME version on the
   * branch head, the target head, and the recorded merge base
   * ([[branch]]):
   *
   *  - changed on one side only → that side's home wins;
   *  - unchanged on both → the base home carries;
   *  - changed on BOTH sides to different homes → CONFLICT: the merge
   *    refuses loudly, listing every conflicted table, and nothing
   *    flips (there is no line-level auto-merge for tables — a human
   *    picks a side by republishing it on the branch);
   *  - both sides converged to the SAME home (a previous merge, or a
   *    shared linked carry) → not a conflict;
   *  - a table only one side serves (added since base) → taken.
   *
   * Tables taken FROM THE BRANCH that the target head already serves
   * run the A27 schema gate against the target's reader contract —
   * a merge must not break prod's readers any more than a direct
   * publish may. The merged version is a links-only publish (zero
   * bytes moved — home comparison is pure tag/sidecar metadata, the
   * schema gate reads parquet footers only), and on success BOTH
   * refs and the merge base advance to it: both lines restart from
   * the merged state, so the next merge's three-way compare sees only
   * genuinely new divergence (leaving the base behind would re-flag
   * every historic change forever — the classic stale-merge-base
   * bug). Refuses "nothing to merge" when the target already serves
   * every chosen home.
   *
   * Returns (mergedVersion, table → chosen physical home). */
  def mergeRef(spark: SparkSession, root: String,
      fromRef: String, intoRef: String): (Long, Map[String, Long]) =
    mergeRefRows(spark, root, fromRef, intoRef, Map.empty)

  /** [[mergeRef]] with ROW-LEVEL resolution (A38): tables listed in
   * `rowMerge` (table → its key columns) that both sides changed are
   * not conflicts — they resolve by a keyed three-way merge: per key,
   * compare the row's value struct on branch head, target head, and
   * the merge base (null-safe — absence IS a state, so inserts and
   * deletes merge like updates); the side that changed it wins, both
   * sides converging to the same value is clean, and only a key BOTH
   * sides changed to DIFFERENT values refuses (loudly, with a count
   * and sample keys). This is git's merge at row granularity: two
   * pipelines editing disjoint key ranges of one table merge
   * automatically; genuine row races surface as conflicts instead of
   * silently losing one side's write.
   *
   * Scale: per row-merged table, two full-outer key joins + one
   * conflict count — key-partitioned shuffles of the three version
   * scans, no window, no collect beyond the 5-key conflict sample.
   * The merged table writes physically; every other table carries by
   * its chosen home through one mixed publish. Requires identical
   * non-key column sets/types across the three versions (schema
   * evolution is the table-level gate's domain, not the row merge's). */
  def mergeRefRows(spark: SparkSession, root: String,
      fromRef: String, intoRef: String,
      rowMerge: Map[String, Seq[String]]): (Long, Map[String, Long]) = {
    val baseTag = s"$fromRef-mergebase"
    val f = fs(spark, root)
    Seq(baseTag, fromRef, intoRef).foreach(recoveredTag(f, root, _))
    require(f.exists(new org.apache.hadoop.fs.Path(s"$root/TAG.$baseTag")),
      s"snapshot mergeRef: '$fromRef' has no recorded merge base — create it with branch(), not tag()")
    val base = tagVersion(spark, root, baseTag)
    val bHead = tagVersion(spark, root, fromRef)
    val tHead = tagVersion(spark, root, intoRef)
    def homes(v: Long): Map[String, Long] = {
      val links = linksOf(spark, root, v)
      tablesOf(spark, root, v).map(t => t -> links.getOrElse(t, v)).toMap
    }
    val h0 = homes(base); val hb = homes(bHead); val ht = homes(tHead)
    val all = (h0.keySet ++ hb.keySet ++ ht.keySet).toSeq.sorted
    val contested = all.filter { t =>
      hb.get(t) != h0.get(t) && ht.get(t) != h0.get(t) && hb.get(t) != ht.get(t)
    }
    val (rowTables, conflicts) = contested.partition(rowMerge.contains)
    require(conflicts.isEmpty,
      s"snapshot mergeRef: conflict — changed on both '$fromRef' and '$intoRef' since " +
        s"v$base: ${conflicts.mkString(", ")} (republish the winning side on the branch, " +
        "or pass key columns for a row-level merge)")
    val chosen: Map[String, Long] = all.flatMap { t =>
      val pick =
        if (hb.get(t) != h0.get(t)) hb.get(t)      // branch changed (or dropped)
        else ht.get(t)                             // target changed, or base carries
      pick.map(t -> _)
    }.toMap -- rowTables
    require(rowTables.nonEmpty || chosen != ht,
      s"snapshot mergeRef: nothing to merge — '$intoRef' already serves every table of '$fromRef'")
    val merged: Map[String, DataFrame] = rowTables.map { t =>
      def at(h: Option[Long]): Option[DataFrame] =
        h.map(v => spark.read.parquet(s"$root/v$v/$t"))
      t -> threeWayRows(spark, at(h0.get(t)), at(hb.get(t)), at(ht.get(t)),
        rowMerge(t), t, fromRef, intoRef)
    }.toMap
    val branchTaken = chosen.filter { case (t, h) =>
      hb.get(t).contains(h) && !ht.get(t).contains(h)
    }
    val viol = schemaViolationsFrom(spark, root, tHead,
      branchTaken.map { case (t, h) =>
        t -> spark.read.parquet(s"$root/v$h/$t")
      } ++ merged)
    require(viol.isEmpty,
      s"snapshot mergeRef: schema gate refused vs '$intoRef' readers: ${viol.mkString("; ")}")
    val v = publishMixed(spark, root, merged, chosen, "merge", intoRef)
    tag(spark, root, intoRef, v)
    tag(spark, root, fromRef, v)
    tag(spark, root, baseTag, v)
    (v, chosen ++ merged.keys.map(_ -> v))
  }

  /** The keyed three-way row merge core: per key, the value struct on
   * (base, branch, target) decides — changed-on-one-side wins,
   * convergent changes are clean, divergent changes refuse with a
   * sample. Absence is a state (None base = the table is new on both
   * sides; a null side struct = that side deleted/never had the key).
   *
   * Two r17 hardenings (ADVICE r16 + VERDICT #3):
   *  - key UNIQUENESS is validated, not assumed: a side with duplicate
   *    keys would fan out through the two full-outer joins and emit
   *    duplicated/mis-picked rows with no error anywhere. Each side
   *    aggregates to one row per key carrying its occurrence count, so
   *    the dup check rides the join's own shuffle (no extra per-side
   *    scan — the groupBy pre-partitions on the join key, which the
   *    joins then reuse) and refuses BY SIDE with sample keys, the
   *    lwwMergedBatch discipline at merge granularity;
   *  - the joined relation is localCheckpoint'd before the sample
   *    action, so the conflict/dup probe and the publish write read
   *    one materialization instead of each re-deriving the three-scan
   *    double join (the r4 multi-action materialization rule). */
  private def threeWayRows(spark: SparkSession,
      base: Option[DataFrame], branch: Option[DataFrame],
      target: Option[DataFrame], keyCols: Seq[String], table: String,
      fromRef: String, intoRef: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, count, first, lit, struct, when}
    require(branch.nonEmpty && target.nonEmpty,
      s"snapshot row merge: '$table' must exist on both refs (one-sided tables merge at table level)")
    val b = branch.get; val t = target.get
    def sig(df: DataFrame) =
      df.schema.map(x => (x.name, x.dataType)).sortBy(_._1)
    require(sig(b) == sig(t) && base.forall(o => sig(o) == sig(b)),
      s"snapshot row merge: '$table' schemas differ across base/branch/target — " +
        "evolve schemas through table-level merges, then row-merge")
    require(keyCols.nonEmpty && keyCols.forall(b.columns.contains),
      s"snapshot row merge: key columns ${keyCols.mkString(",")} not all present in '$table'")
    val valCols = b.columns.filterNot(keyCols.contains).toSeq
    require(valCols.nonEmpty,
      s"snapshot row merge: '$table' has no non-key columns to merge")
    // one row per key per side + how many rows carried that key: a
    // clean side aggregates to itself; a dup-keyed side is detected
    // from the count and refused before anything publishes
    def pack(df: DataFrame, n: String) =
      df.select(keyCols.map(col) :+ struct(valCols.map(col): _*).as(n): _*)
        .groupBy(keyCols.map(col): _*)
        .agg(first(col(n)).as(n), count(lit(1)).as(s"${n}n"))
    val o = base.map(pack(_, "_o")).getOrElse(
      pack(b, "_o").filter(lit(false)))
    val j = o.join(pack(b, "_b"), keyCols, "full_outer")
      .join(pack(t, "_t"), keyCols, "full_outer")
      .localCheckpoint()
    val bCh = !(col("_b") <=> col("_o"))
    val tCh = !(col("_t") <=> col("_o"))
    val conflict = bCh && tCh && !(col("_b") <=> col("_t"))
    def dups(n: String) = coalesce(col(s"${n}n"), lit(1L)) > 1L
    val anyDup = dups("_o") || dups("_b") || dups("_t")
    val sample = j.filter(conflict || anyDup)
      .select(anyDup.as("_dup") +: keyCols.map(col): _*)
      .limit(5).collect()
    val dupSample = sample.filter(_.getBoolean(0))
    require(dupSample.isEmpty,
      s"snapshot row merge: '$table' has duplicate keys on base/branch/target — " +
        "the keyed merge requires one row per key per side; sample keys (up to 5): " +
        dupSample.map(_.toSeq.drop(1).mkString("(", ",", ")")).mkString(", "))
    require(sample.isEmpty,
      s"snapshot row merge: '$table' has row conflicts between '$fromRef' and " +
        s"'$intoRef' — same key changed differently on both sides; sample keys " +
        s"(up to 5): " + sample.map(_.toSeq.drop(1).mkString("(", ",", ")")).mkString(", "))
    j.withColumn("_pick", when(bCh, col("_b")).otherwise(col("_t")))
      .filter(col("_pick").isNotNull)
      .select(keyCols.map(col) ++
        valCols.map(c => col("_pick").getField(c).as(c)): _*)
  }

  /** Namespace replication with checksum verification (A39) — the
   * DR / region-migration story: copy every manifest-reachable
   * version of a snapshot namespace to a fresh root, verify each
   * physical table LOGICALLY EQUAL (order-independent checksum — one
   * aggregate per side, the C31 migration-audit discipline, never a
   * row-by-row compare), and flip the replica's manifest LAST — a
   * crashed or failed replication leaves a manifest-less root that
   * readers cannot resolve, never a half-namespace that serves.
   * `_LINKS` / `_COMMIT` sidecars and tags copy verbatim (links
   * reference versions WITHIN the namespace, so a verbatim copy stays
   * self-consistent); vacuumed version numbers are absent on both
   * sides by construction; crashed-publish ORPHANS above the source
   * manifest are deliberately NOT replicated — the replica is the
   * governed state, not the scratch.
   *
   * Returns the verification report: one row per copied physical
   * (version, table) with row count and checksum match — all-match is
   * also require()d before the flip, so a corrupted copy can never
   * become a serving replica.
   *
   * Scale: per table one distributed read→write plus two one-row
   * checksum aggregates; metadata (sidecars, tags, manifest) is a
   * handful of tiny file copies. */
  def replicate(spark: SparkSession, srcRoot: String,
      dstRoot: String): DataFrame = {
    import spark.implicits._
    val fsrc = fs(spark, srcRoot)
    val fdst = fs(spark, dstRoot)
    require(!fdst.exists(manifest(dstRoot).target),
      s"snapshot replicate: destination $dstRoot already published")
    val cur = currentVersion(spark, srcRoot)
    require(cur > 0, s"snapshot replicate: nothing published under $srcRoot")
    def copySmall(rel: String): Unit = {
      val sp = new org.apache.hadoop.fs.Path(s"$srcRoot/$rel")
      if (fsrc.exists(sp)) {
        val in = fsrc.open(sp)
        val bytes = try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
        val out = fdst.create(new org.apache.hadoop.fs.Path(s"$dstRoot/$rel"), true)
        try out.write(bytes) finally out.close()
      }
    }
    val versions = (1L to cur).filter(v =>
      fsrc.exists(new org.apache.hadoop.fs.Path(s"$srcRoot/v$v")))
    // r19 (guide §1.2, §2.6): the source-side checksum rides the copy
    // write itself via an Observation — the source is read ONCE per
    // table (was: copy job + separate source-checksum job), and the
    // independent (version, table) copy units run from a small thread
    // pool so one unit's commit/straggler tail back-fills with the
    // next unit's tasks. Checksums, the written bytes, and the
    // verify-before-flip contract are unchanged — the destination
    // checksum still reads the WRITTEN files.
    val units = versions.map { v =>
      v -> fsrc.listStatus(new org.apache.hadoop.fs.Path(s"$srcRoot/v$v"))
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.matches("[A-Za-z0-9_]+")).sorted.toSeq
    }
    import org.apache.spark.sql.functions._
    val unitList = for ((v, own) <- units; t <- own) yield s"v$v/$t" -> { () =>
      val src = spark.read.parquet(s"$srcRoot/v$v/$t")
      val cols = src.columns.sorted.toSeq
      // the SAME row-hash definition tableChecksum aggregates (r20,
      // VERDICT r19 #9) — source and destination sides can no longer
      // silently diverge if the rendering ever changes
      val obs = org.apache.spark.sql.Observation()
      src.withColumn("__cksum_h", graft.operators.Profile.checksumColumn(cols))
        .observe(obs, count(lit(1)).as("n_rows"),
          sum(col("__cksum_h")).as("checksum_sum"),
          expr("bit_xor(__cksum_h)").as("checksum_xor"))
        .drop("__cksum_h")
        .write.mode(SaveMode.Overwrite).parquet(s"$dstRoot/v$v/$t")
      val a = (obs.get("n_rows").asInstanceOf[Long],
        obs.get("checksum_sum"), obs.get("checksum_xor"))
      val bRow = graft.operators.Profile
        .tableChecksum(spark.read.parquet(s"$dstRoot/v$v/$t"), cols).head()
      val b = (bRow.getLong(0), bRow.get(1), bRow.get(2))
      (v, t, a._1, a == b)
    }
    val report = runUnitsCancelOnFailure(spark, "replicate", unitList)
    versions.foreach { v =>
      copySmall(s"v$v/_LINKS")
      copySmall(s"v$v/_COMMIT")
    }
    require(report.forall(_._4),
      s"snapshot replicate: checksum mismatch on " +
        report.filterNot(_._4).map(r => s"v${r._1}/${r._2}").mkString(", ") +
        " — replica NOT published")
    refNames(fsrc, srcRoot).foreach(n => copySmall(s"TAG.$n"))
    manifest(dstRoot).flip(fdst, cur)
    report.toDF("version", "table_name", "n_rows", "checksum_match")
  }

  /** A referential-integrity rule for [[publishChecked]]: every
   * non-null `factCol` value in `factTable` must exist as a `dimCol`
   * value in `dimTable` (SQL FK semantics — NULL keys pass). */
  final case class FkCheck(factTable: String, factCol: String,
      dimTable: String, dimCol: String)

  /** Gated atomic publish (A24) — write the candidate version, check
   * referential integrity ON THE WRITTEN FILES (what will actually
   * serve, not the input plans), and flip the manifest ONLY if every
   * rule holds. The abort path costs nothing to design: a failing
   * gate simply does not flip, and A19's crashed-publish invisibility
   * already guarantees readers never see a manifest-less version —
   * the next publish CLEARS and rewrites the orphan dir (never a partial overwrite serving the dead candidate's other tables). This is the "publish
   * gate" a nightly build needs: a torn upstream extract (facts
   * referencing dim keys that didn't land) must abort the flip, not
   * serve nulls to every downstream join until someone notices.
   *
   * Returns (candidateVersion, published, per-rule violation counts).
   * Scale: each rule is one left-anti join of the written fact
   * against the written dim, counted — dim-keyed shuffle, no data
   * rewritten; the candidate write itself is the same cost as
   * [[publish]]. */
  def publishChecked(
      spark: SparkSession,
      root: String,
      tables: Map[String, DataFrame],
      checks: Seq[FkCheck]): (Long, Boolean, Seq[(String, Long)]) = {
    require(tables.nonEmpty, "snapshot publish: no tables")
    tables.keys.foreach(n => require(n.matches("[A-Za-z0-9_]+"),
      s"snapshot publish: unsafe table name '$n'"))
    checks.foreach { c =>
      require(tables.contains(c.factTable) && tables.contains(c.dimTable),
        s"publishChecked: rule references a table not being published: $c")
    }
    val f = fs(spark, root)
    val next = headVersion(spark, root) + 1
    claimVersion(f, root, next)
    clearDeadOrphan(f, root, next)
    writeTablesConcurrently(s"$root/v$next", tables)
    import org.apache.spark.sql.functions.col
    val report = checks.map { c =>
      val fact = spark.read.parquet(s"$root/v$next/${c.factTable}")
        .select(col(c.factCol)).filter(col(c.factCol).isNotNull)
      val dim = spark.read.parquet(s"$root/v$next/${c.dimTable}")
        .select(col(c.dimCol))
      val bad = fact.join(dim, fact(c.factCol) === dim(c.dimCol), "left_anti").count()
      (s"${c.factTable}.${c.factCol}->${c.dimTable}.${c.dimCol}", bad)
    }
    val ok = report.forall(_._2 == 0L)
    // the commit record lands even on the abort path: the orphan dir
    // documents what was attempted (A37 / the A31 orphan-visibility rule)
    writeCommitMeta(f, root, next, "checked", tables.keys.toSeq, "")
    if (ok) manifest(root).flip(f, next)
    // the claim releases on BOTH outcomes: the attempt is finished
    // (abort leaves the orphan visible, the A31 rule — not claimed)
    releaseVersionClaim(f, root, next)
    (next, ok, report)
  }

  /** Change feed between two published versions (A22) — the keyed
   * I/U/D delta a downstream incremental consumer applies instead of
   * re-reading the whole table after every publish: time travel
   * (immutable versions) makes the diff DERIVABLE after the fact, no
   * change capture at write time. One full-outer key join of the two
   * versions; unchanged rows drop via a null-safe struct compare, so
   * the feed is exactly the minimal delta. Output: op ('I'/'U'/'D'),
   * key columns, then every non-key column carrying the NEW value
   * (I/U) or the deleted row's OLD value (D).
   *
   * Scale: both sides are straight parquet scans of their version
   * dirs; the join shuffles on the key like any incremental MERGE —
   * and a downstream applying this feed with TableSink.applyCdc
   * closes the loop (publish → diff → apply elsewhere). */
  def changesBetween(
      spark: SparkSession,
      root: String,
      table: String,
      fromVersion: Long,
      toVersion: Long,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    // presence markers (not key-column nullness) drive the I/U/D
    // classification: the key join is null-safe, so a NULL key value
    // is a legitimate matched key, not an absence signal
    def fresh(df: DataFrame, tag: String) =
      df.select(df.columns.map(c => col(c).as(s"${tag}$c"))
        :+ lit(true).as(s"${tag}present"): _*)
    val oldDf = fresh(read(spark, root, table, Some(fromVersion)), "__o_")
    val newDf = fresh(read(spark, root, table, Some(toVersion)), "__n_")
    val cols = read(spark, root, table, Some(toVersion)).columns.toSeq
    require(keyCols.forall(cols.contains), s"changesBetween: keys not in $cols")
    val valCols = cols.filterNot(keyCols.contains)
    val joinCond = keyCols.map(k => col(s"__o_$k") <=> col(s"__n_$k")).reduce(_ && _)
    val oldStruct = struct(valCols.map(c => col(s"__o_$c")): _*)
    val newStruct = struct(valCols.map(c => col(s"__n_$c")): _*)
    val anyNewKey = col("__n_present")
    val anyOldKey = col("__o_present")
    oldDf.join(newDf, joinCond, "full")
      .withColumn("op",
        when(anyOldKey.isNull, lit("I"))
          .when(anyNewKey.isNull, lit("D"))
          .when(!(oldStruct <=> newStruct), lit("U")))
      .filter(col("op").isNotNull)
      .select(col("op") +:
        keyCols.map(k => coalesce(col(s"__n_$k"), col(s"__o_$k")).as(k)) ++:
        valCols.map(c => when(col("op") === "D", col(s"__o_$c"))
          .otherwise(col(s"__n_$c")).as(c)): _*)
  }

  /** Version retention (A23) — delete version directories older than
   * the newest `keepLast`, bounding the time-travel window so storage
   * stops growing with publish count. The current version is never
   * deletable (keepLast ≥ 1 enforced), deletion starts from the
   * OLDEST version so a crash mid-vacuum leaves a contiguous
   * still-consistent suffix, and a rerun is idempotent. Version dirs
   * ABOVE the manifest (a crashed publish's orphan) are left alone:
   * the next publish clears and rewrites them, and touching them here would
   * race an in-flight publisher. Returns the deleted version numbers.
   *
   * Scale: pure namespace metadata work — one directory listing +
   * one recursive delete per expired version; no data is read. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"snapshot vacuum: keepLast must be >= 1, got $keepLast")
    val cur = headVersion(spark, root)
    require(cur > 0, s"snapshot vacuum: nothing published under $root")
    val f = fs(spark, root)
    val floor = cur - keepLast + 1
    // TAG-PROTECTION: a version any tag names stays readable however
    // old it is — deleting it would break every readTag of that tag
    // with no error at vacuum time (the silent-wrongness class). The
    // tag set is tiny governance metadata; one listing reads it. A
    // crashed flip's residue pins too: either half may be the tag.
    val protectedVersions = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(s => s.isFile && s.getPath.getName.startsWith("TAG."))
      .map(s => readPointer(f, s.getPath))
      .toSet
    val allVersions = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
      .sorted.toSeq
    // LINK-PROTECTION (A32): a version that physically homes a table
    // some SURVIVING version carries by reference must stay — deleting
    // it breaks every linked read with no error at vacuum time, the
    // same silent-wrongness class as an unprotected tag. Orphans above
    // the manifest count as survivors (an in-flight publisher may
    // still flip them). A rescued version's own link targets need
    // rescuing too, so iterate to a fixpoint (links are one-hop by
    // construction, but a rescue changes the survivor set).
    var doomed = allVersions
      .filter(v => v < floor && !protectedVersions.contains(v)).toSet
    var changed = true
    while (changed) {
      val survivors = allVersions.filterNot(doomed.contains)
      val linkTargets = survivors.flatMap(v => linksOf(spark, root, v).values).toSet
      val rescued = doomed.intersect(linkTargets)
      changed = rescued.nonEmpty
      doomed = doomed.diff(rescued)
    }
    val doomedSorted = doomed.toSeq.sorted
    doomedSorted.foreach { v =>
      require(f.delete(new org.apache.hadoop.fs.Path(s"$root/v$v"), true),
        s"snapshot vacuum: failed to delete v$v under $root")
    }
    doomedSorted
  }

  /** Version catalog (A31) — the introspection a data platform's
   * "datasets" page serves: one row per (version, table) with its row
   * count, whether the manifest currently names the version, and the
   * tags naming it (comma-joined, sorted). Orphan versions above the
   * manifest appear with is_current = false and no tags — disk state
   * an operator should know exists (the A30 erasure obligation, the
   * vacuum candidates). Scale: namespace listings plus one COUNT per
   * table — an un-filtered parquet count is answered from file
   * footers, no data pages read; the catalog itself is governance
   * metadata (versions × tables), driver-sized by construction. */
  def catalog(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val cur = currentVersion(spark, root)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val tagsByVersion = refNames(f, root)
      .map(t => tagVersion(spark, root, t) -> t)
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).sorted.mkString(",") }
    val rows = f.listStatus(rootPath).filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
      .sorted.toSeq.flatMap { v =>
        // tablesOf includes link-carried tables (A32): the catalog
        // reports the version's LOGICAL table set; counts resolve to
        // the physical home dir either way
        tablesOf(spark, root, v).map { tbl =>
          val n = spark.read.parquet(resolveTableDir(spark, root, v, tbl)).count()
          (v, tbl, n, v == cur, tagsByVersion.getOrElse(v, ""))
        }
      }
    rows.toDF("version", "table_name", "n_rows", "is_current", "tags")
  }

  /** Storage accounting per version (A33) — what the A31 catalog's
   * logical view deliberately hides: how much of each version is
   * PHYSICAL bytes vs carried by A32 links, and how many logical rows
   * the links serve without storing. The capacity-planning /
   * chargeback view: total logical footprint ÷ physical footprint is
   * the dedup ratio the zero-copy publish actually bought. One row
   * per version: physical/linked table counts, logical row total,
   * rows served through links, and the version dir's physical bytes
   * (bytes are engine/codec-dependent — spec-asserted, excluded from
   * cross-engine oracles by the callers that need hash parity).
   * Pure metadata: namespace listings + footer-only counts + one
   * content summary per version. */
  def storageReport(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val rows = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
      .sorted.toSeq.map { v =>
        val links = linksOf(spark, root, v)
        val tables = tablesOf(spark, root, v)
        val counts = tables.map(t =>
          t -> spark.read.parquet(resolveTableDir(spark, root, v, t)).count()).toMap
        val bytes = f.getContentSummary(
          new org.apache.hadoop.fs.Path(s"$root/v$v")).getLength
        (v, (tables.size - links.size).toLong, links.size.toLong,
          counts.values.sum, links.keys.map(counts).sum, bytes)
      }
    rows.toDF("version", "n_physical", "n_linked", "logical_rows",
      "linked_rows", "phys_bytes")
  }

  /** Namespace integrity check (A34) — the `fsck` a snapshot store
   * needs once A32 links exist: the invariants ("every link's target
   * version physically homes the table", "every version serves at
   * least one table") hold under this library's own operations, but a
   * manual `rm -rf v3`, a half-restored backup, or an out-of-band
   * cleanup script violates them SILENTLY — every read of the
   * affected table fails only when someone finally tries it. One row
   * per (version, table) with status: 'ok' (physical), 'linked-ok'
   * (link target present), 'dangling-link' (link names a version that
   * no longer homes the table), plus an 'empty-version' row for a
   * version dir serving nothing, plus one row per table with
   * [[eraseKeys]] residue — 'crashed-erase' when the live dir is
   * missing, 'stale-erase-residue' beside it; [[fsckRepair]] and the
   * next eraseKeys recover both — plus a 'stale-restore-tmp' row per
   * `.restore_tmp_T` dir a crashed [[fsckRepair]] replica restore
   * stranded. Pure namespace metadata — listings and
   * existence probes, no data read, no counts. */
  def fsck(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val versions = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
      .sorted.toSeq
    val rows = versions.flatMap { v =>
      val links = linksOf(spark, root, v)
      val dirs = f.listStatus(new org.apache.hadoop.fs.Path(s"$root/v$v"))
        .filter(_.isDirectory).map(_.getPath.getName).toSeq
      val own = dirs.filter(_.matches("[A-Za-z0-9_]+"))
      val crashedRows = dirs
        .collect { case n if n.startsWith(".erase_bak_") => n.drop(11)
                   case n if n.startsWith(".erase_tmp_") => n.drop(11) }
        .distinct.sorted.map { t =>
          val live = own.contains(t)
          (v, t, if (live) "stale-erase-residue" else "crashed-erase", v)
        }
      val linkRows = links.toSeq.sorted.map { case (t, sv) =>
        val target = new org.apache.hadoop.fs.Path(s"$root/v$sv/$t")
        (v, t, if (f.exists(target)) "linked-ok" else "dangling-link", sv)
      }
      // a crashed replica restore ([[fsckRepair]] fromReplica) leaves
      // a hidden tmp: harmless to readers, garbage to report
      val restoreRows = dirs.filter(_.startsWith(".restore_tmp_"))
        .map(_.drop(13)).sorted.map(t => (v, t, "stale-restore-tmp", v))
      val ownRows = own.sorted.map(t => (v, t, "ok", v))
      val all = ownRows ++ linkRows ++ crashedRows ++ restoreRows
      if (all.isEmpty) Seq((v, "", "empty-version", v)) else all
    }
    rows.toDF("version", "table_name", "status", "home_version")
  }

  /** Namespace repair (A41, r17) — [[fsck]] REPORTS erase residue;
   * until this verb nothing fixed it, so the documented recoveries
   * ("delete the residue", "rename a complete half back") were manual
   * runbook steps an operator could get wrong in exactly the way the
   * report warns about (renaming a half over a live table). One pass,
   * applying the residue taxonomy's own rules:
   *  - erase residue is recovered by the [[Commit]] residue rule, the
   *    ACTION naming what it did because the operator's follow-up
   *    differs: 'deleted-stale-backup' (a finished erase's unerased
   *    bytes dropped — the A30 obligation completes);
   *    'deleted-stale-tmp-rerun-erase' (the erase never swapped: the
   *    live table still serves the subject, so re-run the idempotent
   *    [[eraseKeys]]); 'restored-scrubbed' (rolled forward, unerased
   *    backup dropped); 'restored-backup' (rolled back: data online,
   *    erasure explicitly NOT done).
   *  - 'dangling-link': the physical home is gone (an out-of-band
   *    delete). With `fromReplica = Some(replicaRoot)` (r18, closing
   *    VERDICT r17 #2) the missing version dir is restored FROM an
   *    A39 replica under the replicate discipline: copy to a hidden
   *    `.restore_tmp_` dir, prove the copy logically equal to the
   *    replica source (the same order-independent table checksum the
   *    A39 verify uses), and only then rename it into place — a
   *    failed or crashed restore never installs, and the residue it
   *    leaves is itself repaired ('deleted-stale-restore-tmp') on
   *    the next run. A home several versions link to restores ONCE;
   *    every dangling link over it reports 'restored-from-replica'.
   *    A link whose home the replica ALSO lacks (vacuumed there, or
   *    the damage predates replication) stays 'unrepairable', loudly.
   *    A30 interplay: the replica holds the bytes AS OF replication —
   *    erasures executed on the primary afterwards are not in it, so
   *    the runbook after a restore is to re-run the idempotent
   *    [[eraseKeys]] for any erasure that postdates the replica.
   *    Without `fromReplica` the row reports 'unrepairable' so the
   *    operator can point the verb at a replica or republish.
   * Returns (version, table_name, issue, action) for every issue
   * found; idempotent — a clean namespace returns zero rows and a
   * rerun after repair finds nothing. Pure namespace metadata plus
   * the renames/deletes themselves — except a replica restore, which
   * is one distributed read→write→checksum per missing home (the
   * unavoidable floor for putting the bytes back). */
  def fsckRepair(spark: SparkSession, root: String,
      fromReplica: Option[String] = None): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val versions = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
      .sorted.toSeq
    val rows = versions.flatMap { v =>
      val dirs = f.listStatus(new org.apache.hadoop.fs.Path(s"$root/v$v"))
        .filter(_.isDirectory).map(_.getPath.getName).toSeq
      def p(rel: String) = new org.apache.hadoop.fs.Path(s"$root/v$v/$rel")
      val repaired = dirs
        .collect { case n if n.startsWith(".erase_tmp_") || n.startsWith(".erase_bak_") =>
          n.drop(11) }
        .distinct.sorted.flatMap { t =>
          Commit.recover(f, p(t), p(s".erase_tmp_$t"), p(s".erase_bak_$t")) match {
            case Commit.Outcome.Kept(droppedTmp, _) => Some((v, t, "stale-erase-residue",
              if (droppedTmp) "deleted-stale-tmp-rerun-erase" else "deleted-stale-backup"))
            case Commit.Outcome.RolledForward => Some((v, t, "crashed-erase", "restored-scrubbed"))
            case Commit.Outcome.RolledBack => Some((v, t, "crashed-erase", "restored-backup"))
            case Commit.Outcome.Absent => None
          }
        }
      // a crash mid-replica-restore strands a hidden tmp next to
      // nothing a reader can reach: garbage, deleted (the restore
      // itself re-copies from the replica, never resumes a partial)
      val staleRestores = dirs.filter(_.startsWith(".restore_tmp_"))
        .map(_.drop(13)).sorted.map { t =>
          f.delete(p(s".restore_tmp_$t"), true): Unit
          (v, t, "stale-restore-tmp", "deleted-stale-restore-tmp")
        }
      repaired ++ staleRestores
    }
    // dangling links second, namespace-wide: several versions can
    // link to ONE missing home, which must restore exactly once
    val dangling = versions.flatMap { v =>
      linksOf(spark, root, v).toSeq.sorted.collect {
        case (t, sv) if !f.exists(new org.apache.hadoop.fs.Path(s"$root/v$sv/$t")) =>
          (v, t, sv)
      }
    }
    val restoredHome = scala.collection.mutable.Map.empty[(Long, String), Boolean]
    val linkRows = dangling.map { case (v, t, sv) =>
      val restored = restoredHome.getOrElseUpdate((sv, t), fromReplica.exists { rep =>
        val fr = fs(spark, rep)
        if (!fr.exists(new org.apache.hadoop.fs.Path(s"$rep/v$sv/$t"))) false
        else {
          val src = spark.read.parquet(s"$rep/v$sv/$t")
          val tmp = new org.apache.hadoop.fs.Path(s"$root/v$sv/.restore_tmp_$t")
          f.delete(tmp, true): Unit
          src.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          val cols = src.columns.sorted.toSeq
          val a = graft.operators.Profile.tableChecksum(src, cols).head()
          val b = graft.operators.Profile
            .tableChecksum(spark.read.parquet(tmp.toString), cols).head()
          require(a == b, s"snapshot repair: replica restore checksum " +
            s"mismatch on v$sv/$t — restore NOT installed")
          Commit.move(f, tmp, new org.apache.hadoop.fs.Path(s"$root/v$sv/$t"))
          true
        }
      })
      (v, t, "dangling-link",
        if (restored) "restored-from-replica" else "unrepairable")
    }
    (rows ++ linkRows).toDF("version", "table_name", "issue", "action")
  }

  /** Right-to-erasure across history (A30) — remove every row whose
   * `keyCol` value appears in `keys` from EVERY on-disk version of
   * `table`: retained, tag-protected, and crashed-publish orphans
   * alike. [[targeted delete|A21]]-style fixes repair the HEAD;
   * erasure is a legal obligation on the whole retention window —
   * time travel must not resurrect the erased subject, and an orphan
   * directory still holds the bytes even if no manifest names it.
   * Each version's table dir is rewritten to `.erase_tmp_<table>` and
   * swapped in through [[Commit]] (the old dir parks in
   * `.erase_bak_<table>`, then is dropped), so a concurrent reader
   * NEVER sees partial data — though between the two renames the
   * table dir briefly does not exist, so a read in that window fails
   * loudly rather than serving a half-scrubbed table. A crash leaves
   * residue [[fsck]] reports ('crashed-erase' with the live dir
   * missing, 'stale-erase-residue' next to it); [[fsckRepair]] and
   * the next eraseKeys both recover it by the Commit residue rule.
   * Returns (version, rowsRemoved) ascending, one row per version
   * that carries the table; fails loudly if NO version does.
   *
   * Scale: per version, one doomed-row count + one filtered rewrite —
   * both a single scan with a BROADCAST anti/semi join against the
   * erasure key set (erasure requests are human-sized; no shuffle of
   * the version). Cost proportional to retained bytes: the
   * unavoidable floor for physical erasure on immutable files.
   * Versions whose table holds none of the keys are left untouched
   * (no rewrite, no new files — the count pass makes the common
   * "subject not in this version" case free). */
  def eraseKeys(
      spark: SparkSession,
      root: String,
      table: String,
      keyCol: String,
      keys: DataFrame): Seq[(Long, Long)] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val f = fs(spark, root)
    val keyDf = keys.select(col(keyCol)).distinct()
    val versions = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
      .sorted.toSeq
    val touched = versions.flatMap { v =>
      val dirPath = new org.apache.hadoop.fs.Path(s"$root/v$v/$table")
      val tmp = new org.apache.hadoop.fs.Path(s"$root/v$v/.erase_tmp_$table")
      val bak = new org.apache.hadoop.fs.Path(s"$root/v$v/.erase_bak_$table")
      Commit.recover(f, dirPath, tmp, bak): Unit
      if (!f.exists(dirPath)) None
      else {
        val cur = spark.read.parquet(dirPath.toString)
        val doomed = cur.join(broadcast(keyDf), Seq(keyCol), "left_semi").count()
        if (doomed == 0L) Some(v -> 0L)
        else {
          cur.join(broadcast(keyDf), Seq(keyCol), "left_anti")
            .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          Commit.replace(f, dirPath, tmp, bak)
          Some(v -> doomed)
        }
      }
    }
    require(touched.nonEmpty,
      s"snapshot erase: table '$table' exists in no version under $root")
    touched
  }

  /** Schema-compatibility gate (A27) — refuse a publish that would
   * BREAK READERS of the previous version: every column an existing
   * table already serves must survive with the same dataType (readers
   * select it by name and type); NEW columns are fine (additive
   * evolution, the A10 upsert convention), and brand-new tables are
   * fine. Unlike [[publishChecked]] this gate needs no data, so it
   * runs BEFORE anything is written — a refused publish costs zero
   * bytes. Returns the violation list; empty means the publish went
   * through (same atomic flip as [[publish]]).
   *
   * This is the contract test a nightly schema drift otherwise breaks
   * silently: the A17 drift AUDIT tells you what changed after the
   * fact; this gate stops the incompatible flip up front. */
  def publishCompatible(
      spark: SparkSession,
      root: String,
      tables: Map[String, DataFrame]): (Long, Boolean, Seq[String]) = {
    require(tables.nonEmpty, "snapshot publish: no tables")
    tables.keys.foreach(n => require(n.matches("[A-Za-z0-9_]+"),
      s"snapshot publish: unsafe table name '$n'"))
    val cur = headVersion(spark, root)
    val violations = schemaViolations(spark, root, tables)
    if (violations.nonEmpty) (cur + 1, false, violations)
    else (publish(spark, root, tables), true, Nil)
  }

  /** The A27 compatibility scan alone — every way `tables` would break
   * the reader contract of the CURRENT version (dropped or retyped
   * column vs the served schema; added columns are fine). Factored
   * out of [[publishCompatible]] so the zero-copy linked-publish path
   * can run the SAME gate (ADVICE r14: `--link` silently skipped it,
   * letting a breaking denorm schema change publish and advance the
   * prod tag instead of refusing). Empty namespace → no contract →
   * no violations. */
  def schemaViolations(
      spark: SparkSession,
      root: String,
      tables: Map[String, DataFrame]): Seq[String] =
    schemaViolationsFrom(spark, root, currentVersion(spark, root), tables)

  /** [[schemaViolations]] against an arbitrary published version —
   * the gate a BRANCH publish (A35) runs: the branch head's readers
   * are the contract, not the global head's. */
  def schemaViolationsFrom(
      spark: SparkSession,
      root: String,
      base: Long,
      tables: Map[String, DataFrame]): Seq[String] = {
    if (base == 0L) Seq.empty
    else tables.toSeq.sorted(Ordering.by((t: (String, DataFrame)) => t._1))
      .flatMap { case (name, df) =>
        // served set = written + link-carried (A32): a table the
        // base version serves through a link is just as much a
        // reader contract as a physically-written one
        val prev = scala.util.Try(
          resolveTableDir(spark, root, base, name)).toOption
        if (prev.isEmpty) Nil // brand-new table: fine
        else {
          val old = spark.read.parquet(prev.get).schema
          val neu = df.schema.map(x => x.name -> x.dataType).toMap
          old.flatMap { field =>
            neu.get(field.name) match {
              case None => Some(s"$name: column '${field.name}' dropped")
              case Some(dt) if dt != field.dataType =>
                Some(s"$name: column '${field.name}' retyped " +
                  s"${field.dataType.simpleString} -> ${dt.simpleString}")
              case _ => None
            }
          }
        }
      }
  }

  /** Named version refs (A25) — "prod points at v7" as one tiny
   * pointer file per tag, flipped with the same write-then-rename
   * discipline as the manifest: consumers pin a TAG (stable contract)
   * while publishes advance the head version freely, and promoting a
   * validated version to prod is a metadata-only flip — the
   * dataset-registry pattern (git tags for tables). Tags are GC
   * ROOTS: [[vacuum]] never deletes a version any tag names (nor the
   * link targets it depends on), however far behind the head it
   * falls — which is also what makes a tag [[publishToRef]] advances
   * a safe BRANCH head (A35). */
  def tag(spark: SparkSession, root: String, name: String, version: Long): Unit = {
    val p = tagPointer(root, name)
    val cur = headVersion(spark, root)
    require(version >= 1 && version <= cur,
      s"snapshot tag: v$version not published (head is v$cur)")
    val f = fs(spark, root)
    p.recover(f)
    p.flip(f, version)
  }

  /** Ref/branch lifecycle GC (A40) — remove a named ref so [[vacuum]]
   * can reclaim the versions it alone was pinning. [[tag]]s and
   * [[branch]]es are vacuum GC roots with, until this verb, no removal
   * path: every abandoned experiment branch pinned its entire version
   * chain (head + recorded merge base + their link targets) against
   * retention forever — the first operational wall a team actually
   * using branches hits after their first dead experiment. Deleting
   * `name` also deletes its `name-mergebase` companion when one exists
   * (a [[branch]]-created ref is the pair; keeping an orphaned base
   * would keep pinning the ancestor chain). Deletion is a plain
   * pointer-file removal — no data is touched here; reclamation is the
   * EXISTING vacuum's job, whose tag-protection simply no longer sees
   * the ref (and whose link-fixpoint still rescues anything a
   * surviving version reaches). Refuses unknown refs loudly, and
   * refuses deleting a `-mergebase` tag whose BRANCH REF still exists
   * — the base belongs to its branch and dies with it (deleting it
   * alone would turn the next [[mergeRef]] into a refusal with a
   * misleading "create it with branch()" message); an ORPHANED base
   * (ref already gone — an out-of-band tag removal) is deletable
   * directly, so no state is ever stuck. Crash safety: the merge-base
   * companion deletes FIRST — a crash between the two deletes leaves
   * the ref itself, and RERUNNING deleteRef completes; the reverse
   * order would strand a base this verb refused to touch, recreating
   * the pinned-chain wall it exists to remove. The manifest is
   * untouched: the head version and time travel by explicit version
   * survive every ref deletion.
   *
   * Release-ref guard (r18, ADVICE r17): a single mistyped
   * `branch --delete=prod` used to unpin the production chain so the
   * next keepLast vacuum could reclaim the versions prod was
   * protecting. Well-known RELEASE names ([[isReleaseRef]]: `prod`,
   * `stable`, `latest`, `release` and `release-*`/`release_*`) now
   * refuse without `force = true` — branch GC (the verb's purpose)
   * never needs force, while unpinning a release chain demands the
   * explicit flag. A name-based guard is deliberately cheap and
   * deterministic: pin-graph analysis would need the vacuum's
   * call-time keepLast to be meaningful. */
  def deleteRef(spark: SparkSession, root: String, name: String,
      force: Boolean = false): Unit = {
    require(name.matches("[A-Za-z0-9_-]+"), s"snapshot deleteRef: unsafe name '$name'")
    require(force || !isReleaseRef(name),
      s"snapshot deleteRef: '$name' is a release ref — deleting it lets " +
        "the next vacuum reclaim the chain it pins; pass force=true " +
        "(CLI --force=true) if that is really the intent")
    val f = fs(spark, root)
    // every pointer looked at is recovered first: a ref caught
    // mid-flip still deletes, and no residue survives to keep pinning
    // its versions as a vacuum root
    if (name.endsWith("-mergebase"))
      require(!f.exists(recoveredTag(f, root, name.stripSuffix("-mergebase"))),
        s"snapshot deleteRef: '$name' is a live branch's merge-base tag — " +
          "delete the branch ref instead (the base is removed with it)")
    val p = recoveredTag(f, root, name)
    require(f.exists(p), s"snapshot deleteRef: no ref '$name' under $root")
    // companion first: a crash mid-verb must leave a state this verb
    // can still finish, never an unremovable orphan
    val mb = recoveredTag(f, root, s"$name-mergebase")
    if (f.exists(mb))
      require(f.delete(mb, false),
        s"snapshot deleteRef: failed to remove TAG.$name-mergebase")
    require(f.delete(p, false), s"snapshot deleteRef: failed to remove TAG.$name")
  }

  /** Well-known release-ref names the [[deleteRef]] guard protects:
   * `prod`, `stable`, `latest`, and the `release`/`release-*`/
   * `release_*` family. */
  def isReleaseRef(name: String): Boolean =
    name == "prod" || name == "stable" || name == "latest" ||
      name == "release" || name.startsWith("release-") ||
      name.startsWith("release_")

  /** Bulk age-based ref GC (A42, r18) — [[deleteRef]] is one ref at a
   * time; a team whose CI creates a branch per run needs "sweep every
   * ref whose chain has been idle longer than N", not a hand-typed
   * delete per dead experiment. A ref's AGE is the A37 history
   * timestamp of the version it points at (the last time anything
   * was published onto that chain — exactly the "abandoned" signal;
   * a version predating the `_COMMIT` sidecar reads ts 0 and counts
   * as infinitely old). Sweeps every ref with
   * `asOfMs − ts(version) > olderThanMs` EXCEPT: names matching
   * `keep` — exact names, or GLOBS where `*` matches any run of
   * characters (r19: CI naming schemes want `ci-nightly-*`, and an
   * exact-only match silently sweeps the pattern the operator
   * thought was protected), well-known release names ([[isReleaseRef]] —
   * implicitly kept, matching the deleteRef guard), and `-mergebase`
   * companions (they belong to their branch and die with it via
   * [[deleteRef]], which this verb delegates to — same crash order,
   * so a rerun after a mid-sweep crash completes). `asOfMs` defaults
   * to the wall clock; pass it explicitly for a deterministic replay.
   * Returns (ref, version) per swept ref, sorted; reclamation of the
   * newly unrooted chains is the EXISTING [[vacuum]]'s job. Pure
   * metadata: one listing + one tiny `_COMMIT` read per version. */
  def gcRefs(spark: SparkSession, root: String, olderThanMs: Long,
      asOfMs: Option[Long] = None,
      keep: Seq[String] = Seq.empty): Seq[(String, Long)] = {
    require(olderThanMs >= 0, s"snapshot gcRefs: negative age $olderThanMs")
    val f = fs(spark, root)
    val now = asOfMs.getOrElse(System.currentTimeMillis())
    // keep entries compile to anchored regexes: '*' is the only glob
    // metacharacter (matches any run, including empty); every other
    // character is literal — an exact name stays an exact match
    val keepMatchers = keep.map(p => java.util.regex.Pattern.compile(
      p.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*")))
    val tsByVersion = history(spark, root).select("version", "ts_ms")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refs = refNames(f, root)
      .filterNot(_.endsWith("-mergebase"))
      .filterNot(isReleaseRef)
      .filterNot(n => keepMatchers.exists(_.matcher(n).matches()))
      .sorted.toSeq
    refs.flatMap { name =>
      val v = tagVersion(spark, root, name)
      // a ref at a version whose dir is gone (vacuumed under it —
      // possible for pre-guard namespaces) counts as infinitely old
      if (now - tsByVersion.getOrElse(v, 0L) > olderThanMs) {
        deleteRef(spark, root, name)
        Some(name -> v)
      } else None
    }
  }

  private def tagPointer(root: String, name: String): Pointer = {
    require(name.matches("[A-Za-z0-9_-]+"), s"snapshot tag: unsafe name '$name'")
    Pointer(root, s"TAG.$name")
  }

  /** The version a tag names; fails loudly on unknown tags. A reader:
   * it never recovers a crashed flip. */
  def tagVersion(spark: SparkSession, root: String, name: String): Long = {
    val p = tagPointer(root, name).target
    val f = fs(spark, root)
    require(f.exists(p), s"snapshot tag: no tag '$name' under $root")
    readPointer(f, p)
  }

  /** `TAG.<name>` with a crashed flip recovered, for a verb about to
   * write: a tag left as only `TAG.<name>.bak` resolves again. */
  private def recoveredTag(f: org.apache.hadoop.fs.FileSystem, root: String,
      name: String): org.apache.hadoop.fs.Path = {
    val p = tagPointer(root, name)
    p.recover(f)
    p.target
  }

  /** Read `table` at the version a tag names. */
  def readTag(spark: SparkSession, root: String, table: String, name: String): DataFrame =
    read(spark, root, table, Some(tagVersion(spark, root, name)))

  /** Read `table` at the current version, or pinned at `asOfVersion`
   * (time travel). A version the manifest never named (crashed
   * publish) is unreadable by construction. */
  def read(
      spark: SparkSession,
      root: String,
      table: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val v = asOfVersion.getOrElse {
      val cur = currentVersion(spark, root)
      require(cur > 0, s"snapshot read: nothing published under $root")
      cur
    }
    spark.read.parquet(resolveTableDir(spark, root, v, table))
  }

  /**
   * Consistent multi-table read (A29) — every requested table pinned
   * to ONE version, resolved ONCE up front: per-table readTag calls
   * resolve the tag per call, so a publish-plus-retag landing between
   * two of them serves table A from v3 and table B from v4 — a TORN
   * cross-table read that joins inconsistent facts and dims with no
   * error anywhere. Resolution order: explicit `asOfVersion`, else
   * the tag, else the current manifest version. Returns the pinned
   * version alongside the frames so callers can stamp outputs with
   * the exact snapshot that served them (the D18 lineage rule).
   */
  def readAll(
      spark: SparkSession,
      root: String,
      tables: Seq[String],
      tag: Option[String] = None,
      asOfVersion: Option[Long] = None): (Long, Map[String, DataFrame]) = {
    require(tables.nonEmpty, "snapshot readAll: no tables requested")
    val v = asOfVersion
      .orElse(tag.map(tagVersion(spark, root, _)))
      .getOrElse {
        val cur = currentVersion(spark, root)
        require(cur > 0, s"snapshot read: nothing published under $root")
        cur
      }
    (v, tables.map(t => t -> read(spark, root, t, Some(v))).toMap)
  }
}
