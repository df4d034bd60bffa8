package graft

import org.scalatest.funsuite.AnyFunSuite

class ScratchSpec extends AnyFunSuite {

  test("callDir under a configured scratch dir: per-call unique, application-scoped") {
    val spark = TestSpark.spark
    val tmp = java.nio.file.Files.createTempDirectory("graft_scratch_test").toString
    TestSpark.withConf("spark.graft.scratchDir" -> tmp) {
      val (a, b) = (Scratch.callDir(spark, "snap"), Scratch.callDir(spark, "snap"))
      assert(a != b)
      val app = spark.sparkContext.applicationId
      Seq(a, b).foreach { d =>
        assert(d.startsWith(s"$tmp/snap_") && d.contains(app), d)
      }
    }
  }
}
