package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each crash-safety protocol has one implementation: the generation commit
  * lives in `CommitPointer`, the indexed table's file names in `ScaleLayout`,
  * and the exactly-once stream lifecycle in `ExactlyOnce`. A second copy in
  * `src/main` fails here.
  */
class ProtocolLintSpec extends AnyFunSuite {

  test("lint: each crash-safety protocol stays in its module") {
    val files: Seq[Path] = {
      val walk = Files.walk(Paths.get("src/main/scala"))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.exists(_.getFileName.toString == "CommitPointer.scala"), "source root not found")
    val text = files.map(f => f -> new String(Files.readAllBytes(f), "UTF-8"))
    for ((needle, owner) <- Seq(
        "_commit_v" -> "CommitPointer.scala",
        "_graft_commit" -> "ScaleLayout.scala",
        "checkpointId(" -> "ExactlyOnce.scala")) {
      val offending = text.collect {
        case (f, t) if t.contains(needle) && f.getFileName.toString != owner => f
      }
      assert(offending.isEmpty, s"'$needle' belongs to $owner only: ${offending.mkString(", ")}")
    }
  }
}
