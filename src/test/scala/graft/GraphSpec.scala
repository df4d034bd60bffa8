package graft

import graft.operators.Graph
import org.apache.spark.sql.functions.{array, col, explode, expr, lit, struct, when}
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank one iteration matches the hand-computed ppm recurrence") {
    // 1→2, 2→3, 3→1, 1→4: node 1 splits its mass, 4 is dangling
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("s", "d")
    val got = Graph.pageRank(edges, "s", "d", iters = 1)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    // contribs: 1→{2,4}: 500000 each; 2→3: 1000000; 3→1: 1000000
    // rank1 = 150000 + 85·insum div 100
    assert(got == Seq(
      (1L, 1000000L),
      (2L, 575000L),
      (3L, 1000000L),
      (4L, 575000L)))
  }

  test("pageRank round snapshots honor the spark.graft.scratchDir knob") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scratch_test").toString
    spark.conf.set("spark.graft.scratchDir", tmp)
    try {
      val edges = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
      val got = Graph.pageRank(edges, "s", "d", iters = 1)
        .orderBy("node").as[(Long, Long)].collect().toSeq
      assert(got == Seq((1L, 1000000L), (2L, 1000000L)))
      val sub = Option(new java.io.File(tmp).listFiles()).getOrElse(Array.empty)
      assert(sub.exists(_.getName.startsWith("pagerank_")),
        s"configured scratch dir unused: ${sub.map(_.getName).toSeq}")
      // configured (durable) scratch is NEVER auto-deleted by graft —
      // the round snapshots must still be on disk after the query
      assert(new java.io.File(tmp).exists())
    } finally spark.conf.unset("spark.graft.scratchDir")
  }

  test("pageRank sinks keep the base rank; repeated edges collapse") {
    // duplicate edge 1→2 must count once; node 3 has no in-links
    val edges = Seq((1L, 2L), (1L, 2L), (3L, 2L)).toDF("s", "d")
    val got = Graph.pageRank(edges, "s", "d", iters = 1)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    // 1 and 3 each send 1000000 to 2: insum = 2000000 → 1850000
    assert(got == Seq(
      (1L, 150000L),
      (2L, 1850000L),
      (3L, 150000L)))
  }

  test("pageRank converges toward the cycle's stationary shape") {
    // pure 3-cycle: every node keeps rank 1000000 at every iteration
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val got = Graph.pageRank(edges, "s", "d", iters = 5)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1000000L), (2L, 1000000L), (3L, 1000000L)))
  }

  test("triangleCount: K4 has 4 triangles, a path has none") {
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)).toDF("s", "d")
    assert(Graph.triangleCount(k4, "s", "d").as[Long].head() == 4L)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    assert(Graph.triangleCount(path, "s", "d").as[Long].head() == 0L)
  }

  test("triangleCount canonicalizes input: duplicates, reversals, self-loops") {
    // one triangle fed as a mess of both directions, repeats, and loops
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
      (2L, 3L), (1L, 1L)).toDF("s", "d")
    assert(Graph.triangleCount(messy, "s", "d").as[Long].head() == 1L)
  }

  test("triangleCount is exact at node ids >= 1e7 (packed-key collision graph)") {
    // Crafted so the FORMER packed order key d*1e7 + n collides:
    // node 5 (degree 3) and node 10_000_005 (degree 2) both packed to
    // 30_000_005, which dropped the wedge at node 1 and returned 0.
    // Genuine (degree, id) ordering must count the one triangle.
    val edges = Seq(
      (5L, 10000005L), (5L, 1L), (10000005L, 1L), // triangle {1, 5, 1e7+5}
      (5L, 99L)                                   // pendant makes deg(5)=3
    ).toDF("s", "d")
    assert(Graph.triangleCount(edges, "s", "d").as[Long].head() == 1L)
    // and a whole K4 shifted far past the old 1e7 domain bound
    val off = 100000000L
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b }
      yield (a + off, b + off)).toDF("s", "d")
    assert(Graph.triangleCount(k4, "s", "d").as[Long].head() == 4L)
    // 200 disjoint triangles at ids near 1e9, past any packable domain
    val triOff = 1000000000L
    val tris = spark.range(200L).toDF("t").select(explode(array(
        struct((col("t") * 3 + triOff).as("s"), (col("t") * 3 + 1 + triOff).as("d")),
        struct((col("t") * 3 + 1 + triOff).as("s"), (col("t") * 3 + 2 + triOff).as("d")),
        struct((col("t") * 3 + 2 + triOff).as("s"), (col("t") * 3 + triOff).as("d"))))
        .as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
    assert(Graph.triangleCount(tris, "s", "d").as[Long].head() == 200L)
  }

  test("triangleCount matches brute force on random graphs at random huge id offsets") {
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 4) {
      val n = 10
      val off = math.abs(rnd.nextLong()) % (1L << 40)
      val base = (for {
        a <- 0 until n; b <- 0 until n
        if a < b && rnd.nextInt(3) == 0
      } yield (a.toLong, b.toLong)).toVector
      val brute = (for {
        x <- 0 until n; y <- x + 1 until n; z <- y + 1 until n
        if base.contains((x.toLong, y.toLong)) &&
          base.contains((y.toLong, z.toLong)) &&
          base.contains((x.toLong, z.toLong))
      } yield 1).size.toLong
      val edges = base.map { case (a, b) => (a + off, b + off) }.toDF("s", "d")
      val got = Graph.triangleCount(edges, "s", "d").as[Long].head()
      assert(got == brute, s"offset $off: got $got want $brute (edges $base)")
    }
  }

  test("triangleCount on a hub graph counts each triangle exactly once") {
    // hub 0 connected to 1..6; ring among leaves 1-2,3-4,5-6 → 3 triangles
    val edges = ((1L to 6L).map(i => (0L, i)) ++ Seq((1L, 2L), (3L, 4L), (5L, 6L)))
      .toDF("s", "d")
    assert(Graph.triangleCount(edges, "s", "d").as[Long].head() == 3L)
  }

  test("triangleCount spill-safe fallback conf yields identical counts (ADVICE r19)") {
    // spark.graft.triangles.shuffleHash=false drops the shuffle_hash
    // hint (planner falls back to its spill-safe choice); the count is
    // strategy-independent.
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)).toDF("s", "d")
    val hub = ((1L to 6L).map(i => (0L, i)) ++ Seq((1L, 2L), (3L, 4L), (5L, 6L)))
      .toDF("s", "d")
    spark.conf.set("spark.graft.triangles.shuffleHash", "false")
    try {
      assert(Graph.triangleCount(k4, "s", "d").as[Long].head() == 4L)
      assert(Graph.triangleCount(hub, "s", "d").as[Long].head() == 3L)
    } finally spark.conf.unset("spark.graft.triangles.shuffleHash")
  }

  private def bfs(
      edges: Seq[(Long, Long)], sources: Seq[Long], maxHops: Int): Map[Long, Long] = {
    // undirected: pass both orientations, as the operator contract asks
    val e = (edges ++ edges.map(_.swap)).toDF("a", "b")
    Graph.shortestPaths(e, "a", "b", sources.toDF("s"), "s", maxHops)
      .as[(Long, Long)].collect().toMap
  }

  test("shortestPaths: hop distances on a path graph, bounded by maxHops") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(bfs(path, Seq(1L), 10) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    assert(bfs(path, Seq(1L), 2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L),
      "nodes beyond maxHops must be absent, not infinite")
  }

  test("shortestPaths: cycles terminate; shorter of two routes wins") {
    // 1-2-3-4-1 square plus chord 1-3: node 3 is 1 hop via the chord
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    assert(bfs(sq, Seq(1L), 10) == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("shortestPaths: multi-source settles at the nearest source") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(bfs(path, Seq(1L, 5L), 10) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("shortestPaths: isolated source settles at 0; disconnected node absent") {
    val comp = Seq((1L, 2L))
    assert(bfs(comp, Seq(9L), 5) == Map(9L -> 0L))
    assert(bfs(comp, Seq(1L), 5) == Map(1L -> 0L, 2L -> 1L))
  }

  test("shortestPaths: a planted hub settles in one hop, and AQE splits its block") {
    // the shuffle regime of an at-scale frontier: broadcast and
    // partition coalescing off, and AQE's skew thresholds scaled down
    // with the data (100x below a 2M-edge hub at 4m/2m). With the skew
    // split off, the hub's reducer reads all 20000 hub edges
    val hubDeg = 20000L
    val others = 5000L
    val edges = spark.range(hubDeg).select(lit(0L).as("a"), (col("id") + 10000000L).as("b"))
      .unionAll(spark.range(1L, others + 1L).select(col("id").as("a"),
        (col("id") + 20000000L).as("b")))
    val maxTask = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m =>
          maxTask.accumulateAndGet(m.shuffleReadMetrics.recordsRead, math.max): Unit)
    }
    spark.sparkContext.addSparkListener(listener)
    val byDist = try TestSpark.withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "40k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "20k") {
      Graph.shortestPaths(edges, "a", "b", spark.range(0L, others + 1L).toDF("node"), "node",
        maxHops = 1).groupBy("dist").count().as[(Long, Long)].collect().toMap
    } finally {
      org.apache.spark.graftglue.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(byDist == Map(0L -> (others + 1L), 1L -> (hubDeg + others)))
    assert(maxTask.get() < hubDeg / 2,
      s"one task read ${maxTask.get()} shuffle records of a $hubDeg-edge hub")
  }

  test("subtreeRollup sums whole subtrees, forest roots independent") {
    import spark.implicits._
    //      1(10)           6(1)
    //     /    \
    //   2(20)  3(30)
    //   /
    // 4(40)
    val nodes = Seq(
      (1L, None: Option[Long], 10L), (2L, Some(1L), 20L), (3L, Some(1L), 30L),
      (4L, Some(2L), 40L), (6L, None: Option[Long], 1L)
    ).toDF("id", "parent", "v")
    val out = graft.operators.Graph.subtreeRollup(nodes, "id", "parent", "v", 5)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(
      1L -> ((4L, 100L)), 2L -> ((2L, 60L)), 3L -> ((1L, 30L)),
      4L -> ((1L, 40L)), 6L -> ((1L, 1L))))
    // a 10-ary forest over 1..1000 (roots 1..9, three levels below):
    // the root subtrees partition it, and a leaf rolls up only itself
    val size = 1000L
    val wide = spark.range(1L, size + 1).toDF("id").select(col("id"),
      when(col("id") >= 10L, expr("id div 10")).as("parent"), (col("id") % 7L).as("v"))
    val roll = Graph.subtreeRollup(wide, "id", "parent", "v", maxDepth = 7)
      .as[(Long, Long, Long)].collect()
    val roots = roll.filter(_._1 < 10L)
    assert(roots.map(_._2).sum == size && roots.map(_._3).sum == (1L to size).map(_ % 7L).sum)
    assert(roll.filter(_._1 * 10L > size).forall(_._2 == 1L))
  }

  test("subtreeRollup refuses chains deeper than maxDepth instead of undercounting") {
    import spark.implicits._
    val chain = Seq((1L, None: Option[Long], 1L), (2L, Some(1L), 1L),
      (3L, Some(2L), 1L), (4L, Some(3L), 1L)).toDF("id", "parent", "v")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Graph.subtreeRollup(chain, "id", "parent", "v", maxDepth = 2)
    }
    assert(e.getMessage.contains("longer than maxDepth"))
    // deep enough succeeds and the root sees the whole chain
    val ok = graft.operators.Graph.subtreeRollup(chain, "id", "parent", "v", 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(ok(1L) == 4L)
  }

  test("bomExplode multiplies quantities along paths; hand-checked assembly") {
    import spark.implicits._
    // 1 (root assembly): contains 2 x sub-assembly(2), 5 x part(4);
    // sub-assembly 2 contains 3 x part(3). Per unit of 1:
    // 2 -> 2 units, 3 -> 2*3 = 6, 4 -> 5 -> total 13 units, 3 parts.
    val bom = Seq(
      (1L, None: Option[Long], 1L),
      (2L, Some(1L), 2L),
      (3L, Some(2L), 3L),
      (4L, Some(1L), 5L)).toDF("id", "parent", "q")
    val got = graft.operators.Graph.bomExplode(bom, "id", "parent", "q", 4)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> ((3L, 13L)), 2L -> ((1L, 3L))))
  }

  test("bomExplode refuses chains deeper than maxDepth; forests stay independent") {
    import spark.implicits._
    val two = Seq(
      (1L, None: Option[Long], 1L), (2L, Some(1L), 4L),
      (7L, None: Option[Long], 1L), (8L, Some(7L), 9L), (9L, Some(8L), 2L)
    ).toDF("id", "parent", "q")
    val got = graft.operators.Graph.bomExplode(two, "id", "parent", "q", 3)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // tree A: 1 <- 2(4). tree B: 7 <- 8(9) <- 9(2): 7 sees 8 (9 units)
    // and 9 (9*2 = 18 units)
    assert(got == Map(
      1L -> ((1L, 4L)), 7L -> ((2L, 27L)), 8L -> ((1L, 2L))))
    val e = intercept[IllegalArgumentException] {
      graft.operators.Graph.bomExplode(two, "id", "parent", "q", 1)
    }
    assert(e.getMessage.contains("longer than maxDepth"))
  }

  test("criticalPath takes the longest route through a diamond") {
    // 1→2 (3), 1→3 (2), 2→4 (4), 3→4 (10): best into 4 is 2+10=12
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 2L), (2L, 4L, 4L), (3L, 4L, 10L))
      .toDF("u", "v", "w")
    val got = Graph.criticalPath(edges, "u", "v", "w")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L), (2L, 3L), (3L, 2L), (4L, 12L)))
    // the x2/x3 divisor DAG over 1..2000, weight v % 7 + 1: the only
    // path into 2^k is 1 -> 2 -> ... -> 2^k, so its length has a closed form
    val keys = spark.range(1L, 2001L).toDF("n")
    def by(k: Int) = keys.filter(col("n") % k === 0L)
      .select(expr(s"n div $k").as("u"), col("n").as("v"), (col("n") % 7L + 1L).as("w"))
    val pow2 = (1 to 10).scanLeft(0L)((len, i) => len + (1L << i) % 7L + 1L).drop(1)
      .zipWithIndex.map { case (len, i) => (1L << (i + 1)) -> len }.toMap
    val cp = Graph.criticalPath(by(2).unionByName(by(3)), "u", "v", "w")
      .filter(col("id").isin(pow2.keys.toSeq: _*)).as[(Long, Long)].collect().toMap
    assert(cp == pow2)
  }

  test("criticalPath fails loudly on a reachable cycle instead of undercounting") {
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("u", "v", "w")
    val e = intercept[IllegalArgumentException] {
      Graph.criticalPath(edges, "u", "v", "w", maxRounds = 8)
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("pathCounts: diamond has two routes into the sink; cycles refuse") {
    // 1→2, 1→3, 2→4, 3→4 plus 4→5: paths into 4 = {1-2-4, 1-3-4, 2-4,
    // 3-4} = 4; into 5 = those ×→5 plus 4-5 = 5; into 2/3 = 1 each
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    val got = Graph.pathCounts(edges, "u", "v")
      .selectExpr("id", "cast(n_paths as long)")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
    val e = intercept[IllegalArgumentException] {
      Graph.pathCounts(Seq((1L, 2L), (2L, 1L)).toDF("u", "v"), "u", "v",
        maxRounds = 8)
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("cycleStats finds each terminal cycle with its min label and size") {
    // 5→4→3, cycle 3→1→2→3, self-loop 6→6
    val nxt = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 3L), (5L, 4L), (6L, 6L))
      .toDF("id", "n")
    val got = Graph.cycleStats(nxt, "id", "n")
      .orderBy("cycle_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (6L, 1L)))
    // the functional graph x -> x*x + 1 mod m: every reported cycle,
    // re-walked from its label, returns in exactly `size` steps and
    // never passes a smaller node
    val m = 2000L
    val sq = spark.range(0L, m).toDF("id").select(col("id"), ((col("id") * col("id") + 1L) % m).as("n"))
    val cycles = Graph.cycleStats(sq, "id", "n").as[(Long, Long)].collect().toSeq
    assert(cycles.nonEmpty)
    cycles.foreach { case (c, size) =>
      val walk = Iterator.iterate(c)(v => (v * v + 1L) % m).drop(1).take(size.toInt).toSeq
      assert(walk.last == c && walk.init.forall(_ > c), s"cycle $c size $size: $walk")
    }
  }

  test("cycleStats on a pure permutation reports every node on a cycle") {
    // two disjoint cycles: (10 20 30) and (40 50)
    val nxt = Seq((10L, 20L), (20L, 30L), (30L, 10L), (40L, 50L), (50L, 40L))
      .toDF("id", "n")
    val got = Graph.cycleStats(nxt, "id", "n")
      .orderBy("cycle_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((10L, 3L), (40L, 2L)))
  }

  // --- the frontier operators on a 7-deep chain plus a small forest ---
  // Caps 7 and 8 are not multiples of the 3-round chunk, so the rounds
  // cross chunk boundaries and the last chunk is short. Expected values
  // come from a direct walk of the same structure.

  // parent pointers: chain 1 <- 2 <- ... <- 8 (node 8 is 7 hops deep),
  // tree 20 <- 21, 20 <- 22 <- 23; value = id, qty 2 on the chain
  private val forest: Seq[(Long, Option[Long], Long)] =
    (1L to 8L).map(i => (i, if (i == 1L) None else Some(i - 1), if (i == 1L) 1L else 2L)) ++
      Seq((20L, None, 1L), (21L, Some(20L), 3L), (22L, Some(20L), 2L), (23L, Some(22L), 5L))
  private lazy val forestDf = forest.toDF("id", "parent", "q")

  /** (a, d, m) for every node d and each ancestor-or-self a of d, with
   * m the product of q from d up to but excluding a. */
  private def closure: Seq[(Long, Long, Long)] = {
    val parent = forest.collect { case (i, Some(p), _) => i -> p }.toMap
    val qty = forest.map(r => r._1 -> r._3).toMap
    forest.flatMap { case (d, _, _) =>
      Iterator.iterate(Option((d, 1L))) {
        case Some((a, m)) => parent.get(a).map(p => (p, m * qty(a)))
        case None => None
      }.takeWhile(_.isDefined).map(_.get).map { case (a, m) => (a, d, m) }
    }
  }

  // DAG edges: the chain 1→…→8 with weight i on i→i+1, and a diamond
  // 20→21→23, 20→22→23
  private val dag: Seq[(Long, Long, Long)] =
    (1L to 7L).map(i => (i, i + 1, i)) ++
      Seq((20L, 21L, 4L), (20L, 22L, 1L), (22L, 23L, 2L), (21L, 23L, 1L))
  private lazy val dagDf = dag.toDF("u", "v", "w")
  private lazy val dagNodes = dag.flatMap(e => Seq(e._1, e._2)).distinct

  private def longestInto(v: Long): Long =
    dag.filter(_._2 == v).map(e => longestInto(e._1) + e._3).maxOption.getOrElse(0L)
  private def pathsInto(v: Long): Long =
    dag.filter(_._2 == v).map(e => pathsInto(e._1) + 1L).sum

  private def criticalOf(maxRounds: Int): Map[Long, Long] =
    Graph.criticalPath(dagDf, "u", "v", "w", maxRounds)
      .as[(Long, Long)].collect().toMap
  private def pathCountOf(maxRounds: Int): Map[Long, Long] =
    Graph.pathCounts(dagDf, "u", "v", maxRounds)
      .selectExpr("id", "cast(n_paths as long)").as[(Long, Long)].collect().toMap

  test("frontier operators across chunk boundaries: 7-deep chain and forest at caps 7 and 8") {
    val hops = Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L, 6L -> 5L, 7L -> 6L,
      8L -> 7L, 20L -> 0L, 21L -> 1L, 22L -> 1L, 23L -> 2L)
    val rollup = closure.groupBy(_._1).map { case (a, rows) =>
      a -> ((rows.size.toLong, rows.map(_._2).sum)) }
    val bom = closure.filter(r => r._1 != r._2).groupBy(_._1).map { case (a, rows) =>
      a -> ((rows.size.toLong, rows.map(_._3).sum)) }
    assert(rollup(1L) == ((8L, 36L)) && bom(1L) == ((7L, 254L)) && bom(20L) == ((3L, 15L)))
    for (cap <- Seq(7, 8)) {
      assert(bfs(dag.map(e => (e._1, e._2)), Seq(1L, 20L), cap) == hops, s"bfs cap $cap")
      assert(Graph.subtreeRollup(forestDf, "id", "parent", "id", cap)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap == rollup,
        s"subtreeRollup cap $cap")
      assert(Graph.bomExplode(forestDf, "id", "parent", "q", cap)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap == bom,
        s"bomExplode cap $cap")
    }
    assert(bfs(dag.map(e => (e._1, e._2)), Seq(1L, 20L), 6) == hops - 8L,
      "shortestPaths keeps the cut at maxHops")
    assert(criticalOf(8) == dagNodes.map(v => v -> longestInto(v)).toMap)
    assert(pathCountOf(8) == dagNodes.map(v => v -> pathsInto(v)).toMap)
  }

  test("criticalPath and pathCounts return on a chain of exactly maxRounds edges, refuse one deeper") {
    val one = Seq((1L, 2L, 5L)).toDF("u", "v", "w")
    assert(Graph.criticalPath(one, "u", "v", "w", maxRounds = 1)
      .as[(Long, Long)].collect().toMap == Map(1L -> 0L, 2L -> 5L))
    assert(Graph.pathCounts(one, "u", "v", maxRounds = 1)
      .selectExpr("id", "cast(n_paths as long)").as[(Long, Long)].collect().toMap ==
      Map(1L -> 0L, 2L -> 1L))
    assert(criticalOf(7) == dagNodes.map(v => v -> longestInto(v)).toMap)
    assert(pathCountOf(7) == dagNodes.map(v => v -> pathsInto(v)).toMap)
    val cp = intercept[IllegalArgumentException](criticalOf(6))
    assert(cp.getMessage.contains("deeper than maxRounds"), cp.getMessage)
    val pc = intercept[IllegalArgumentException](pathCountOf(6))
    assert(pc.getMessage.contains("deeper than maxRounds"), pc.getMessage)
  }

  test("cycleStats labels only the cycle at the end of a long tail") {
    // tail 1→2→…→6 into the 2-cycle 6↔7: no tail node is on a cycle
    val nxt = ((1L to 6L).map(i => (i, i + 1)) :+ ((7L, 6L))).toDF("id", "n")
    assert(Graph.cycleStats(nxt, "id", "n").as[(Long, Long)].collect().toSeq ==
      Seq((6L, 2L)))
  }

  test("each scratch-using operator leaves one snapshot dir, and its result reads it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_residue_test").toFile
    spark.conf.set("spark.graft.scratchDir", tmp.toString)
    try {
      val runs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        "pagerank" -> (() => Graph.pageRank(dagDf, "u", "v", iters = 4)),
        "bfs" -> (() => Graph.shortestPaths(dagDf, "u", "v", Seq(1L).toDF("s"), "s", 4)),
        "subtree" -> (() => Graph.subtreeRollup(forestDf, "id", "parent", "id", 8)),
        "bom" -> (() => Graph.bomExplode(forestDf, "id", "parent", "q", 8)),
        "cpath" -> (() => Graph.criticalPath(dagDf, "u", "v", "w")),
        "pcount" -> (() => Graph.pathCounts(dagDf, "u", "v")),
        "cyc" -> (() => Graph.cycleStats(Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("id", "n"),
          "id", "n")))
      for ((op, run) <- runs) {
        val df = run()
        val calls = tmp.listFiles().filter(_.getName.startsWith(op + "_"))
        assert(calls.length == 1, s"$op: call dirs ${calls.map(_.getName).toSeq}")
        val kept = calls.head.listFiles()
        assert(kept.length == 1 && kept.head.isDirectory,
          s"$op residue: ${kept.map(_.getName).toSeq}")
        val files = df.inputFiles
        assert(files.nonEmpty && files.forall(_.contains(s"/${calls.head.getName}/${kept.head.getName}/")),
          s"$op reads ${files.toSeq}")
        assert(df.count() > 0L, op)
      }
    } finally spark.conf.unset("spark.graft.scratchDir")
  }

  test("a refused call leaves no snapshot in its call dir") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_refusal_test").toFile
    spark.conf.set("spark.graft.scratchDir", tmp.toString)
    try {
      intercept[IllegalArgumentException](criticalOf(6))
      val calls = tmp.listFiles().filter(_.getName.startsWith("cpath_"))
      assert(calls.length == 1 && calls.head.listFiles().isEmpty,
        s"residue: ${calls.map(c => c.getName -> c.listFiles().map(_.getName).toSeq).toSeq}")
    } finally spark.conf.unset("spark.graft.scratchDir")
  }

  test("Graph.scala has one scratch scope and one chunk loop") {
    import java.nio.file.{Files, Paths}
    val path = Paths.get("src/main/scala/graft/operators/Graph.scala")
    assert(Files.exists(path), s"source not found at ${path.toAbsolutePath}")
    val src = new String(Files.readAllBytes(path), java.nio.charset.StandardCharsets.UTF_8)
    assert("""Scratch\.callDir\(""".r.findAllIn(src).length == 1, "more than one Scratch.callDir")
    assert("""def materialize\(""".r.findAllIn(src).isEmpty, "a local def materialize")
    val chunkCalls = """(?<!def )materializeChunkCounted\(""".r.findAllMatchIn(src).map { m =>
      "def \\w+".r.findAllIn(src.substring(0, m.start)).toSeq.lastOption.getOrElse("?")
    }.toList
    assert(chunkCalls == List("def frontier"), chunkCalls.mkString(", "))
  }
}
