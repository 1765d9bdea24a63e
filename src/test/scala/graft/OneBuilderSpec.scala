package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the tree at one session builder: `Runeset.buildSession` builds
  * every session, so every session gets graft's planner when it is
  * built. A second builder would hand its callers a session whose
  * planner depends on which suite or main happened to build first.
  */
class OneBuilderSpec extends AnyFunSuite {

  private val pattern = "SparkSession.builder"

  private def scalaFiles(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("only Runeset.scala builds a SparkSession") {
    val self = Paths.get("src/test/scala/graft/OneBuilderSpec.scala")
    val files = scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
    assert(files.exists(_.endsWith("Runeset.scala")), s"no Runeset.scala among ${files.size} files")
    val builders = files
      .filterNot(f => f.endsWith("Runeset.scala") || f == self)
      .filter(f => new String(Files.readAllBytes(f), "UTF-8").contains(pattern))
    assert(builders.isEmpty, s"$pattern outside Runeset.scala: ${builders.mkString(", ")}")
  }
}
