package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object TestSpark {
  // local[4] whatever $SPARK_GRAFT_CPUS says: the suite pins partition
  // counts and plans, so it must not vary with the box
  lazy val spark: SparkSession = GraftSession("4", Seq(
    // bucketed-table tests register external tables; keep catalog
    // metadata out of the repo tree
    "spark.sql.warehouse.dir" ->
      (System.getProperty("java.io.tmpdir") + "/graft-test-warehouse")))

  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}
