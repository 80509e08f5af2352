package graft

import java.nio.file.{Files, Paths}

/** Plan-dump harness for the optimization rounds: writes
  * `.explain("formatted")` of each named query to
  * `<outDir>/<name>.txt` — the evidence files under plans/r14/ that
  * let plan-shape claims (Exchange counts, join strategies,
  * PushedFilters) be checked without running Spark.
  *
  * Usage: runMain graft.ExplainQ <outDir> <query>[,<query>...]
  *        (query list defaults to every declared query)
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainQ <outDir> [q1,q2,...]")
    val outDir = args(0)
    val names =
      if (args.length > 1) args(1).split(',').toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      // iterative queries (connected components) and kernel compiles
      // run driver actions while BUILDING the frame — the dumped plan
      // is the final consumed query, like the bench times it
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"$name.txt"),
        plan.getBytes("UTF-8"))
      println(s"explained $name")
    }
    spark.stop()
  }
}
