package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each crash-safety protocol has one implementation: the generation commit
  * lives in `CommitPointer`, the indexed table's file names in `ScaleLayout`,
  * and the exactly-once stream lifecycle in `ExactlyOnce`. A second copy in
  * `src/main` fails here. The planner and the API read parquet schemas through
  * `Bridge.parquetSchema` (a footer read, no Spark job), never by inference.
  */
class ProtocolLintSpec extends AnyFunSuite {

  private lazy val text: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.exists(_.getFileName.toString == "CommitPointer.scala"), "source root not found")
    files.map(f => f -> new String(Files.readAllBytes(f), "UTF-8"))
  }

  test("lint: each crash-safety protocol stays in its module") {
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

  test("lint: the planner and the API infer no parquet schema with a Spark job") {
    val scoped = text.filter { case (f, _) =>
      Seq("planner", "api").exists(d => f.startsWith(Paths.get("src/main/scala/graft", d)))
    }
    assert(scoped.exists(_._1.getFileName.toString == "SemanticPlanner.scala"))
    val offending = scoped.collect { case (f, t) if t.contains("read.parquet(") => f }
    assert(offending.isEmpty,
      s"read parquet through Bridge.parquetSchema, not read.parquet(: ${offending.mkString(", ")}")
  }
}
