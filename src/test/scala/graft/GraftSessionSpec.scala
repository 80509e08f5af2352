package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  private val defaults = GraftSession.defaults("4")
  private val launcherKeys = Seq("spark.master",
    "spark.sql.shuffle.partitions", "spark.sql.optimizer.excludedRules")

  test("launcher-set master, shuffle partitions and excluded rules " +
    "(even the empty string) survive; defaults fill only missing keys") {
    val launched = new SparkConf(false)
      .set("spark.master", "yarn")
      .set("spark.sql.shuffle.partitions", "200")
      .set("spark.sql.optimizer.excludedRules", "")
    val (toSet, line) = GraftSession.settings(launched, defaults)
    assert(toSet == defaults -- launcherKeys)
    // the config: line names each differing key with both values
    val l = line.getOrElse(fail("no config: line"))
    assert(l.startsWith("config: "))
    assert(l.contains("spark.master=yarn (default local[4])"))
    assert(l.contains("spark.sql.shuffle.partitions=200 (default 4)"))
    assert(l.contains("spark.sql.optimizer.excludedRules= (default " +
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate)"))
    assert(l.split(", ").length == 3)
  }

  test("no launcher conf: every default is set and no config: line") {
    assert(GraftSession.settings(new SparkConf(false), defaults) ==
      (defaults, None))
    // a caller's extra setting is a default like any other
    val withExtra = defaults + ("spark.sql.warehouse.dir" -> "/w")
    assert(GraftSession.settings(new SparkConf(false), withExtra)._1 ==
      withExtra)
  }

  test("a launcher value equal to its default is kept silently") {
    val launched = new SparkConf(false).set("spark.master", "local[4]")
    assert(GraftSession.settings(launched, defaults) ==
      (defaults - "spark.master", None))
  }

  test("GraftSession is the only SparkSession builder in src/main") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString != "GraftSession.scala")
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .toSeq
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession: ${offenders.mkString(", ")}")
  }
}
