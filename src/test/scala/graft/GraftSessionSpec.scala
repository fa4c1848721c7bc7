package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session is built by [[GraftSession]]: a hand-copied builder
  * drifts from the verified config (one once planned without the graft
  * extensions, so its plans were checked nowhere). */
class GraftSessionSpec extends AnyFunSuite {

  test("only GraftSession.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder" // split so this file never matches
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
        .map(root.relativize(_).toString).toList.sorted
      finally walk.close()
    assert(builders == List("main/scala/graft/GraftSession.scala"),
      s"$needle outside GraftSession: ${builders.mkString(", ")}")
  }
}
