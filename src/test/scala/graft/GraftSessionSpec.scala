package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Guards the one-factory rule: every session is built by [[GraftSession]]
  * (so tests, mains and the board run one configuration), and no env knob
  * brings back a setting whose A/B question is already settled.
  */
class GraftSessionSpec extends AnyFunSuite with SparkSpec {

  private def sources: Seq[(String, String)] =
    Seq("src/main", "src/test").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.map(p => p.toString -> Files.readString(p))

  test("sessions are built only by GraftSession, and no settled GRAFT_* env knob is read") {
    val src = sources
    assert(src.exists(_._1.endsWith("GraftSession.scala")), "source tree not found from the test's working dir")
    val builder = """SparkSession\s*\.\s*builder""".r
    val builders = src.collect {
      case (f, text) if !f.endsWith("GraftSession.scala") && builder.findFirstIn(text).isDefined => f
    }
    assert(builders.isEmpty, s"SparkSession built outside GraftSession in: ${builders.mkString(", ")}")
    val envRead = """(?:sys\.env|System\.getenv)[^"\n]*"(GRAFT_[A-Z0-9_]+)"""".r
    val knobs = src.flatMap { case (f, text) =>
      envRead.findAllMatchIn(text).map(k => s"$f: ${k.group(1)}")
    }
    assert(knobs.isEmpty, s"GRAFT_* env reads: ${knobs.mkString(", ")}")
  }

  test("the shared test session runs the board's local filesystem and artifact isolation") {
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      classOf[graft.sources.NoCrcLocalFileSystem].getName)
    assert(new Path("file:///tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[graft.sources.NoCrcLocalFileSystem])
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("withConfs restores each key to its prior value, or unsets it, even when the body throws") {
    val (set, unset) = ("spark.sql.cbo.enabled", "spark.sql.streaming.checkpointFileManagerClass")
    val prior = spark.conf.getOption(set)
    assert(spark.conf.getOption(unset).isEmpty)
    withConfs(set -> Some("true"), unset -> None) {
      assert(spark.conf.get(set) == "true" && spark.conf.getOption(unset).isEmpty)
    }
    intercept[IllegalStateException] {
      withConfs(set -> Some("true"), unset -> Some("x"))(throw new IllegalStateException("body"))
    }
    assert(spark.conf.getOption(set) == prior && spark.conf.getOption(unset).isEmpty)
  }
}
