package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the shipped session profile through its pure functions. `session()` is
  * not called here: on the suite's shared context it would rewrite
  * `TestSpark`'s runtime confs.
  */
class SparkProfileSpec extends AnyFunSuite {

  test("cores: SPARK_GRAFT_CPUS when set, otherwise every available core") {
    assert(SparkProfile.cores(Some("3")) == 3)
    assert(SparkProfile.cores(None) == Runtime.getRuntime.availableProcessors)
  }

  test("cores: anything but an integer >= 1 is rejected, naming the variable") {
    for (bad <- Seq("0", "-2", "abc", "")) {
      val e = intercept[IllegalArgumentException](SparkProfile.cores(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("settings: local[cores], cores shuffle partitions, UTC, UI off, a 1000-class code cache") {
    val s = SparkProfile.settings(3)
    assert(s("spark.master") == "local[3]")
    assert(s("spark.sql.shuffle.partitions") == "3")
    assert(s("spark.sql.session.timeZone") == "UTC")
    assert(s("spark.ui.enabled") == "false")
    assert(s("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("lint: only SparkProfile, TestSpark and GraftExtensionsSpec build a Spark session") {
    val allowed = Set("SparkProfile.scala", "TestSpark.scala", "GraftExtensionsSpec.scala")
    val builder = "SparkSession\\.builder".r
    def scalaFiles(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val files = scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
    assert(files.exists(_.getFileName.toString == "SparkProfile.scala"), "source roots not found")
    val offending = files.filter { f =>
      !allowed(f.getFileName.toString) &&
        builder.findFirstIn(new String(Files.readAllBytes(f), "UTF-8")).isDefined
    }
    assert(offending.isEmpty,
      s"build sessions through graft.SparkProfile, not by hand: ${offending.mkString(", ")}")
  }
}
