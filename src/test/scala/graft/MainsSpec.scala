package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The program's entry points, without a Spark session: a new main
 * (an ad-hoc probe or smoke script) is a change to argue for, and a
 * check it would hold belongs in a test. */
class MainsSpec extends AnyFunSuite {

  test("src/main defines exactly the six known mains") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, s"sources not found under ${root.toAbsolutePath}")
    val entry = """\bdef main\s*\(|\bextends\s+App\b""".r
    val mains = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1) + ".")
      entry.findAllMatchIn(src).map { m =>
        val obj = """\bobject\s+(\w+)""".r.findAllMatchIn(src.substring(0, m.end))
          .toSeq.lastOption.map(_.group(1))
        pkg.getOrElse("") + obj.getOrElse(s"? in ${f.getFileName}")
      }.toList
    }
    assert(mains.sorted == Seq("graft.Bench", "graft.OptProbe", "graft.ScaleData",
      "graft.Smoke", "graft.Verify", "graft.pipelines.Run"), mains.sorted.mkString(", "))
  }
}
