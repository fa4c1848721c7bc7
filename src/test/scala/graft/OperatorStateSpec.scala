package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Engine-trained gate state lives in the gate layer (`Shared.PerDir`,
  * [[Gate.fitted]]): an operator or source keeping its own global memo
  * or last-run variable re-grows a second copy of that policy, and a
  * twin that can read state fitted for another gate's run. */
class OperatorStateSpec extends AnyFunSuite {

  test("no global mutable state under graft/operators or graft/sources") {
    // split so this file never matches
    val needles = Seq("Concurrent" + "HashMap", "@" + "volatile")
    val base = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(base), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val hits = Seq("operators", "sources").flatMap { pkg =>
      val walk = Files.walk(base.resolve(pkg))
      try walk.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter { p =>
          val src = new String(Files.readAllBytes(p), "UTF-8")
          needles.exists(src.contains)
        }
        .map(base.relativize(_).toString).toList
      finally walk.close()
    }.sorted
    assert(hits.isEmpty, s"per-dir memo or last-run state outside the gate layer: ${hits.mkString(", ")}")
  }
}
