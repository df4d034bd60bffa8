package graft

import graft.operators.Components
import org.scalatest.funsuite.AnyFunSuite

class ComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("s", "d"), "s", "d")
      .as[(Long, Long)].collect().toMap

  test("chain collapses to one component labeled by its minimum") {
    // 5—4—3—2—1—0 forces multiple star rounds (worst-case diameter)
    val got = cc(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L)))
    assert(got == (0L to 5L).map(_ -> 0L).toMap)
    val path = spark.range(999L).toDF("s").select($"s", ($"s" + 1).as("d"))
    assert(Components.connectedComponents(path, "s", "d")
      .select("component").distinct().as[Long].collect().toSeq == Seq(0L))
  }

  test("separate components keep separate labels") {
    val got = cc(Seq((1L, 2L), (10L, 11L), (11L, 12L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("duplicate, reversed, and self-loop edges are harmless") {
    val got = cc(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (3L, 4L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("star and ring shapes label by minimum") {
    val star = cc(Seq((7L, 1L), (7L, 2L), (7L, 3L)))
    assert(star == Map(7L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
    val ring = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(ring == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // 20 disjoint 100-node stars, each labeled by its center
    val stars = spark.range(2000L).toDF("i")
      .select(($"i" - $"i" % 100).as("s"), $"i".as("d")).filter($"s" =!= $"d")
    assert(Components.connectedComponents(stars, "s", "d")
      .groupBy("component").count().as[(Long, Long)].collect().toMap ==
      (0L until 2000L by 100L).map(_ -> 100L).toMap)
  }

  test("empty edge list yields empty labeling") {
    assert(cc(Seq.empty) == Map.empty)
  }

  test("dedupClusters: transitive A~B~C cluster keeps only the minimum") {
    val docs = Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id")
    // 1~2 and 2~3 verified pairs; 1 and 3 never matched directly
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Components.dedupClusters(docs, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (9L, 9L, true)))
  }

  test("keepBest: highest score survives, ties break to the smallest id") {
    // cluster {1,2,3}: doc 2 has the best score; cluster {5,6}: tied
    // scores -> 5 wins; 9 is a singleton and keeps itself
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 20L), (5L, 7L), (6L, 7L), (9L, 0L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Components.keepBest(docs, "doc_id", "score", pairs)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (5L, 5L, 5L, true), (6L, 5L, 5L, false),
      (9L, 9L, 9L, true)))
  }
}
