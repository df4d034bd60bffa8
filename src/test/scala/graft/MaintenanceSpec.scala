package graft

import graft.operators.{Incremental, Profile, Scd, Sketches}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sketch probe, incremental aggregate merge, and table profiler. */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // --- Sketches -------------------------------------------------------------

  test("CMS estimate never undercounts and is near-exact for long keys") {
    // key k occurs k times, k = 1..100 (5050 rows)
    val df = (1 to 100).flatMap(k => Seq.fill(k)(k.toLong)).toDF("k")
    val cms = Sketches.buildCms(df, "k", eps = 0.001, confidence = 0.999, seed = 7)
    val got = df.distinct()
      .select($"k", Sketches.estimate(cms, $"k").as("est"))
      .as[(Long, Long)].collect().toMap
    (1 to 100).foreach { k =>
      assert(got(k.toLong) >= k, s"CMS undercounted key $k: ${got(k.toLong)}")
      // eps·N ≈ 5 at this width; allow the full bound
      assert(got(k.toLong) <= k + 6, s"CMS est for $k too high: ${got(k.toLong)}")
    }
  }

  test("CMS string keys probe the aggregate's UTF-8 binary hash path") {
    val df = Seq.fill(50)("hot").union(Seq("cold")).toDF("s")
    val cms = Sketches.buildCms(df, "s", eps = 0.01, confidence = 0.99, seed = 7)
    val got = df.distinct().select($"s", Sketches.estimate(cms, $"s").as("est"))
      .as[(String, Long)].collect().toMap
    assert(got("hot") >= 50 && got("hot") <= 52, s"hot: ${got("hot")}")
    assert(got("cold") >= 1 && got("cold") <= 3, s"cold: ${got("cold")}")
  }

  test("CMS over an empty input is a real sketch estimating zero") {
    val cms = Sketches.buildCms(Seq.empty[Long].toDF("k"), "k")
    val est = Seq(42L).toDF("k").select(Sketches.estimate(cms, $"k")).as[Long].head()
    assert(est == 0L, s"empty-input sketch must estimate 0, got $est")
  }

  // --- Incremental ----------------------------------------------------------

  test("mergePartials(delta) ≡ full recompute for sum/count/min/max") {
    val rows = (1L to 1000L).map(i => (i % 7, i, i * 3)).toDF("k", "a", "b")
    def partial(df: org.apache.spark.sql.DataFrame) = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("a").as("sum_a"),
        min("b").as("min_b"), max("b").as("max_b"))
    val merged = Incremental.mergePartials(
      Seq(partial(rows.filter($"a" <= 400)), partial(rows.filter($"a" > 400))),
      Seq("k"), Seq("n" -> "sum", "sum_a" -> "sum", "min_b" -> "min", "max_b" -> "max"))
    val full = partial(rows)
    assert(merged.except(full).isEmpty && full.except(merged).isEmpty,
      "merged partials must equal the from-scratch aggregate")
  }

  test("mergePartials handles keys present in only one partial") {
    val base = Seq(("a", 1L), ("b", 2L)).toDF("k", "n")
    val delta = Seq(("b", 5L), ("c", 7L)).toDF("k", "n")
    val got = Incremental.mergePartials(Seq(base, delta), Seq("k"), Seq("n" -> "sum"))
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 1L, "b" -> 7L, "c" -> 7L))
  }

  test("histogram partials merge ≡ full histogram; quantile lands in the declared band") {
    val vals = (1L to 999L).map(v => (v, v % 3)).toDF("v", "day")
    val width = 50L
    val merged = Incremental.mergeHistograms(
      (0L to 2L).map(d => Incremental.histogramPartial(
        vals.filter($"day" === d), "v", width)))
    val full = Incremental.histogramPartial(vals, "v", width)
    assert(merged.except(full).isEmpty && full.except(merged).isEmpty,
      "merged daily histograms must equal the from-scratch histogram")
    // exact median of 1..999 is 500 → bucket 10 → band [500, 550)
    val (n, qLo) = Incremental.quantileFromHistogram(merged, width, 0.5)
      .as[(Long, Long)].head()
    assert(n == 999L && qLo == 500L, s"median band: n=$n q_lo=$qLo")
    assert(500L >= qLo && 500L < qLo + width)
    // q=1.0 must pick the last bucket; tiny q the first
    assert(Incremental.quantileFromHistogram(full, width, 1.0)
      .as[(Long, Long)].head()._2 == (999L / width) * width)
    assert(Incremental.quantileFromHistogram(full, width, 0.001)
      .as[(Long, Long)].head()._2 == 0L)
  }

  test("merging histograms built at different widths fails loudly") {
    val vals = (1L to 200L).map(v => (v, v % 2)).toDF("v", "day")
    val mixed = Incremental.mergeHistograms(Seq(
      Incremental.histogramPartial(vals.filter($"day" === 0L), "v", 50L),
      Incremental.histogramPartial(vals.filter($"day" === 1L), "v", 25L)))
    val e = intercept[Exception](mixed.collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("mixed widths")),
      s"expected the mixed-width refusal, got: $e")
    // and a width-stamped histogram refuses a mismatched quantile width
    val h = Incremental.histogramPartial(vals, "v", 50L)
    val e2 = intercept[Exception](
      Incremental.quantileFromHistogram(h, 25L, 0.5).collect())
    assert(msgs(e2).exists(_.contains("!= requested width")),
      s"expected the width-mismatch refusal, got: $e2")
  }

  // --- Profile ----------------------------------------------------------------

  test("scd2 collapses no-op changes and closes intervals at the next change") {
    // user 1: a → a (no-op, collapsed) → b → a;  user 2: single state
    val log = Seq(
      (1L, 10L, 100L, "a"), (1L, 11L, 200L, "a"),
      (1L, 12L, 300L, "b"), (1L, 13L, 400L, "a"),
      (2L, 14L, 150L, "x"))
      .toDF("user_id", "event_id", "ts", "state")
    val got = Scd.type2(log, "user_id", "ts", Seq("state"), "event_id")
      .orderBy("user_id", "valid_from")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, "a", 100L, Some(300L), false),
      (1L, "b", 300L, Some(400L), false),
      (1L, "a", 400L, None, true),
      (2L, "x", 150L, None, true)))
  }

  test("scd2 breaks timestamp ties deterministically by the tie column") {
    val log = Seq(
      (1L, 21L, 100L, "a"), (1L, 20L, 100L, "b")) // same ts: id 20 first
      .toDF("user_id", "event_id", "ts", "state")
    val got = Scd.type2(log, "user_id", "ts", Seq("state"), "event_id")
      .orderBy("valid_from", "state")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, "a", 100L, None, true),
      (1L, "b", 100L, Some(100L), false)))
  }

  test("tableChecksum is row-order independent and content-sensitive") {
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v")
    val b = Seq((3L, "z"), (1L, "x"), (2L, "y")).toDF("id", "v").repartition(3)
    val c = Seq((1L, "x"), (2L, "y"), (3L, "w")).toDF("id", "v")
    def sums(df: org.apache.spark.sql.DataFrame) =
      Profile.tableChecksum(df, Seq("id", "v"))
        .as[(Long, Long, Long)].head()
    assert(sums(a) == sums(b))
    assert(sums(a) != sums(c))
    assert(sums(a)._1 == 3L)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged, NULL-safe") {
    val old = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("c")), (4L, None))
      .toDF("id", "v")
    val nw = Seq((1L, Some("a")), (2L, Some("B")), (4L, None), (5L, Some("e")))
      .toDF("id", "v")
    val got = Profile.snapshotDiff(old, nw, Seq("id"), Seq("v"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "unchanged", // same value
      2L -> "changed",   // b → B
      3L -> "removed",   // old only
      4L -> "unchanged", // NULL on both sides must not read as changed
      5L -> "added"))    // new only
  }

  test("snapshotDiff rendering is prefix-free: null != empty, ':' cannot shift fields") {
    // the ADVICE-r8 ambiguity classes: (null) vs ('') in one column,
    // and values whose ':' content realigns under a joined rendering —
    // ("a:", "b") vs ("a", ":b") — must all classify as changed
    val old = Seq((1L, Option.empty[String], Some("x")),
      (2L, Some("a:"), Some("b"))).toDF("id", "u", "v")
    val nw = Seq((1L, Some(""), Some("x")),
      (2L, Some("a"), Some(":b"))).toDF("id", "u", "v")
    val got = Profile.snapshotDiff(old, nw, Seq("id"), Seq("u", "v"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "changed", 2L -> "changed"),
      s"ambiguous renderings must not collide: $got")
  }

  test("record linkage pairs only within blocks, verifies by edit distance") {
    val recs = Seq(
      (1L, "smith", "NY"), (2L, "smyth", "NY"),  // dist 1, same block
      (3L, "smith", "CA"),                        // same name, other block
      (4L, "jones", "NY"))                        // same block, far name
      .toDF("id", "name", "state")
    val got = graft.operators.Linkage
      .linkByEditDistance(recs, "id", "name", Seq("state"), maxDist = 1)
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L))) // never (1,3) across blocks, never (1,4)
    // candidatePairs itself is exhaustive within the block
    val cand = graft.operators.Linkage
      .candidatePairs(recs, "id", "name", Seq("state"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cand == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("linkByDeletion1 finds every dist<=1 pair globally, no blocks (C32b)") {
    val recs = Seq(
      (1L, "smith", "NY"), (2L, "smyth", "NY"),   // substitution
      (3L, "smith", "CA"),                         // equal, ACROSS blocks
      (4L, "smiths", "NY"),                        // insertion
      (5L, "mith", "NY"),                          // deletion
      (6L, "jones", "NY"),                         // far
      (7L, null.asInstanceOf[String], "NY"))       // NULL links to nothing
      .toDF("id", "name", "state")
    val got = graft.operators.Linkage.linkByDeletion1(recs, "id", "name")
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    // brute force over all non-null pairs at dist<=1
    val names = Map(1L -> "smith", 2L -> "smyth", 3L -> "smith",
      4L -> "smiths", 5L -> "mith", 6L -> "jones")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = for {
      a <- names.keys.toSeq.sorted; b <- names.keys.toSeq.sorted
      if a < b && lev(names(a), names(b)) <= 1
    } yield (a, b, lev(names(a), names(b)).toLong)
    assert(got == want, s"got $got want $want")
    // the cross-block equal pair (1,3) is in — deletion linkage is global
    assert(got.contains((1L, 3L, 0L)))
  }

  // code-point DP levenshtein — the brute-force twin of the verify
  private def levCp(a: String, b: String): Int = {
    val x = a.codePoints().toArray; val y = b.codePoints().toArray
    val d = Array.tabulate(x.length + 1, y.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to x.length; j <- 1 to y.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
    d(x.length)(y.length)
  }

  test("linkByDeletionK(2) equals DP brute force over all pairs (C32c)") {
    val names = Map(
      1L -> "smith", 2L -> "smyth",      // dist 1
      3L -> "smith",                     // dist 0 to 1
      4L -> "smythe",                    // dist 1 to 2, dist 2 to 1
      5L -> "mit",                       // dist 2 to 1 (two deletions)
      6L -> "smote",                     // dist 2 to 2 (y->o, h->e)
      7L -> "jones", 8L -> "janes",      // dist 1
      9L -> "stone",                     // far from all
      10L -> "abcd", 11L -> "cdab")      // shared 2-del key "cd", dist 4:
                                         // the verify MUST kill this one
    val recs = (names.toSeq.map { case (i, n) => (i, n) } :+
      (12L, null.asInstanceOf[String])).toDF("id", "name")
    val got = graft.operators.Linkage.linkByDeletionK(recs, "id", "name", 2)
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    val want = for {
      a <- names.keys.toSeq.sorted; b <- names.keys.toSeq.sorted
      if a < b && levCp(names(a), names(b)) <= 2
    } yield (a, b, levCp(names(a), names(b)).toLong)
    assert(got == want, s"got $got want $want")
    assert(!got.exists(p => p._1 == 10L && p._2 == 11L),
      "the non-tight k=2 candidate (abcd, cdab) must be verify-killed")
  }

  test("hashed deletion kernel emits exactly the string kernel's variant hashes (r20 rewrite)") {
    // r20 rewrote deletionNeighborhoodHashedK as a direct zero-
    // allocation enumeration with hash-set dedup; its output must stay
    // the SAME SET as hashing the string kernel's deduped variants —
    // exercised on equal-char runs (the dedup-heavy case), non-BMP
    // code points (UTF-8 multi-byte paths), empties, and k > len.
    import org.apache.spark.unsafe.types.UTF8String
    def strings(s: String, k: Int): Set[String] = {
      val a = graft.functions.HashOps
        .deletionNeighborhoodK(UTF8String.fromString(s), k)
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString).toSet
    }
    def fnv(s: String): Long = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var h = 0xcbf29ce484222325L
      b.foreach { x => h ^= (x & 0xffL); h *= 0x100000001b3L }
      graft.functions.HashOps.mix64(h)
    }
    def hashed(s: String, k: Int): Set[Long] = {
      val a = graft.functions.HashOps
        .deletionNeighborhoodHashedK(UTF8String.fromString(s), k)
      (0 until a.numElements()).map(a.getLong).toSet
    }
    for (s <- Seq("Customer#000000001", "aabbaa", "x𝄞y𝄢", "ab", "a", "",
           "smith", "0000000");
         k <- 1 to 3)
      assert(hashed(s, k) == strings(s, k).map(fnv),
        s"mismatch for '$s' k=$k")
  }

  test("deletion neighborhoods are code-point complete: non-BMP substitution (ADVICE r18)") {
    // 𝄞 (U+1D11E) and 𝄢 (U+1D122) are supplementary-plane — 2 UTF-16
    // units each. A single code-point substitution is edit distance 1
    // and MUST be found; unit-level deletion would produce disjoint
    // neighborhoods.
    val recs = Seq((1L, "x𝄞y"), (2L, "x𝄢y"))
      .toDF("id", "name")
    val got = graft.operators.Linkage.linkByDeletion1(recs, "id", "name")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L)), s"got $got")
  }

  test("linkClusters: transitive closure, singletons by own id, nulls isolated (C32d)") {
    val recs = Seq(
      (1L, "smith"), (2L, "smyth"), (4L, "smythe"), // chain: 1~2~4 (4 not ~1)
      (3L, "smith"),                                // equal -> joins the chain
      (6L, "jones"),                                // singleton
      (7L, null.asInstanceOf[String]),              // null -> singleton
      (8L, null.asInstanceOf[String]))              // nulls never merge
      .toDF("id", "name")
    val got = graft.operators.Linkage.linkClusters(recs, "id", "name")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (6L, 6L), (7L, 7L), (8L, 8L)), s"got $got")
  }

  test("fdViolations: held FD, violated FD, uniqueness, NULL-as-value") {
    val df = Seq(
      (1, "a", "x"), (1, "a", "x"),   // key 1: rhs always a (held)
      (2, "b", "x"), (2, "c", "x"),   // key 2: two rhs values (violated)
      (3, null.asInstanceOf[String], "x"), (3, "d", "x") // NULL is a value
    ).toDF("k", "v", "pad")
    val fd = Profile.fdViolations(df, Seq("k"), Seq("v"))
      .as[(Long, Long, Long)].head()
    assert(fd == ((3L, 2L, 2L)), s"got $fd")
    // uniqueness mode: key 1 has 2 rows, 2 has 2, 3 has 2 → all violate
    val uq = Profile.fdViolations(df, Seq("k"), Nil)
      .as[(Long, Long, Long)].head()
    assert(uq == ((3L, 3L, 2L)), s"got $uq")
    // composite candidate key (k, v): the two (1, a) rows collide
    val ck = Profile.fdViolations(df, Seq("k", "v"), Nil)
      .as[(Long, Long, Long)].head()
    assert(ck == ((5L, 1L, 2L)), s"got $ck")
  }

  test("profile reports rows, non-nulls, distinct, and min/max per column") {
    val df = Seq((1L, Some("x")), (2L, Some("y")), (3L, None), (3L, Some("x")))
      .toDF("id", "s")
    val got = Profile.profile(df, Seq("id", "s"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("id") == (("id", 4L, 4L, 3L, "1", "3")))
    assert(got("s") == (("s", 4L, 3L, 2L, "x", "y")))
  }

  test("profile is a single aggregate over one scan (no per-column jobs)") {
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "s")
    val plan = Profile.profile(df, Seq("id", "s")).queryExecution.executedPlan.toString
    // one aggregate chain: expand for the multi-distinct, then generate
    assert(plan.contains("Expand"), s"multi-distinct should plan through Expand:\n$plan")
    assert(!plan.contains("Union"), s"profile must not union per-column scans:\n$plan")
  }

  test("approxDistinct dial removes the Expand and stays within HLL tolerance") {
    val df = (1L to 2000L).map(i => (i % 700, s"v${i % 130}")).toDF("id", "s")
    val q = Profile.profile(df, Seq("id", "s"), approxDistinct = true)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"approx profile must not replicate the input through Expand:\n$plan")
    val nd = q.as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r._4).toMap
    // HLL++ default rsd = 5%; these cardinalities sit far inside it
    assert(math.abs(nd("id") - 700L) <= 700 * 0.10, s"id estimate ${nd("id")}")
    assert(math.abs(nd("s") - 130L) <= 130 * 0.10, s"s estimate ${nd("s")}")
    // min/max/non-null stay exact on the dial
    val full = q.as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(full("id")._2 == 2000L && full("id")._3 == 2000L)
    assert(full("id")._5 == "0" && full("id")._6 == "699")
  }

  // --- Persisted-index publish protocol (QuerySupport.withBuiltIndex) ---------

  /** Runs `body` with the durable scratch root pointed at a temp dir. */
  private def withScratchRoot[T](body: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft_idx").toString
    spark.conf.set("spark.graft.scratchDir", root)
    try body(root)
    finally spark.conf.unset("spark.graft.scratchDir")
  }

  private def writeMarker(dir: java.io.File): Unit = {
    dir.mkdirs()
    new java.io.FileOutputStream(new java.io.File(dir, "_GRAFT_COMPLETE")).close()
  }

  test("withBuiltIndex serves an already-complete index without rebuilding") {
    withScratchRoot { root =>
      val target = new java.io.File(s"$root/pub_corpus")
      writeMarker(target)
      new java.io.FileOutputStream(new java.io.File(target, "data.bin")).close()
      var built = 0
      val idx = QuerySupport.withBuiltIndex(spark, "/x/corpus", "pub")(_ => built += 1)
      assert(built == 0, "complete index must not be rebuilt")
      assert(new java.io.File(idx, "data.bin").exists(), "published payload must survive")
    }
  }

  test("withBuiltIndex rebuilds a crashed remnant (dir without marker)") {
    withScratchRoot { root =>
      val target = new java.io.File(s"$root/pub_corpus")
      target.mkdirs() // remnant: no _GRAFT_COMPLETE
      new java.io.FileOutputStream(new java.io.File(target, "half.bin")).close()
      val idx = QuerySupport.withBuiltIndex(spark, "/x/corpus", "pub") { staging =>
        val d = new java.io.File(staging); d.mkdirs()
        new java.io.FileOutputStream(new java.io.File(d, "full.bin")).close()
      }
      assert(new java.io.File(idx, "_GRAFT_COMPLETE").exists())
      assert(new java.io.File(idx, "full.bin").exists(), "rebuilt payload must publish")
      assert(!new java.io.File(idx, "half.bin").exists(), "remnant must be discarded")
    }
  }

  test("withBuiltIndex never loses a complete index published mid-build by a rival") {
    withScratchRoot { root =>
      val target = new java.io.File(s"$root/pub_corpus")
      // interleaved publish: while OUR build is running, a concurrent
      // application publishes a complete index at the shared target.
      // Our rename must lose gracefully and the rival's index survive.
      val idx = QuerySupport.withBuiltIndex(spark, "/x/corpus", "pub") { staging =>
        writeMarker(target)
        new java.io.FileOutputStream(new java.io.File(target, "rival.bin")).close()
        val d = new java.io.File(staging); d.mkdirs()
        new java.io.FileOutputStream(new java.io.File(d, "loser.bin")).close()
      }
      assert(new java.io.File(idx, "_GRAFT_COMPLETE").exists())
      assert(new java.io.File(idx, "rival.bin").exists(),
        "the rival's complete index must be served, not destroyed")
      // the losing staging tree is discarded, not nested under the winner
      assert(!new java.io.File(idx, "loser.bin").exists())
      assert(new java.io.File(idx).listFiles().forall(!_.getName.contains("__staging")),
        "loser staging tree must not nest inside the published index")
    }
  }
}
