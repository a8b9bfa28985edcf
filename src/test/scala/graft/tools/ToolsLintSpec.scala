package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The tools measure Spark work through one listener, `SmokeMeter`, and its
  * best-of-N loop; a tool that registers its own listener fails here.
  */
class ToolsLintSpec extends AnyFunSuite {

  test("lint: under graft/tools only SmokeMeter registers a SparkListener") {
    val walk = Files.walk(Paths.get("src/main/scala/graft/tools"))
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.exists(_.getFileName.toString == "SmokeMeter.scala"), "tools root not found")
    val offending = files.filter { f =>
      f.getFileName.toString != "SmokeMeter.scala" &&
        new String(Files.readAllBytes(f), "UTF-8").contains("addSparkListener")
    }
    assert(offending.isEmpty,
      s"meter through SmokeMeter.register, not addSparkListener: ${offending.mkString(", ")}")
  }
}
