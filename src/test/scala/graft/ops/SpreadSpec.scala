package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SpreadSpec extends SparkSpec {

  import spark.implicits._

  test("auto widens a single-row-group parquet scan to half the slots") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val target = math.max(1, spark.sparkContext.defaultParallelism / 2)
    val widened = Spread.auto(docs)
    assert(widened.rdd.getNumPartitions == target)
    // values unchanged — a round-robin exchange only
    assert(widened.count() == docs.count())
  }

  test("auto is analysis-only on the probe path: projections and " +
    "filters above the scan still resolve, non-scan frames pass " +
    "through untouched") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    // projection/filter above the scan: still probes the relation
    val shaped = Spread.auto(docs.filter(col("doc_id") < 100)
      .select(col("doc_id")))
    assert(shaped.rdd.getNumPartitions ==
      math.max(1, spark.sparkContext.defaultParallelism / 2))
    // a union (two relations) is not a scan frame — unchanged plan
    val u = docs.unionByName(docs)
    assert(Spread.auto(u) eq u)
    // a local relation has no file-backed scan — unchanged plan
    val local = Seq((1L, "x")).toDF("id", "t")
    assert(Spread.auto(local) eq local)
  }

  test("auto never coalesces: a frame already at/above the target " +
    "passes through") {
    // eight files: the scan itself already runs at least `target` tasks
    val dir = java.nio.file.Files.createTempDirectory("spread-wide").toString
    spark.range(0, 4000).repartition(8).write.mode("overwrite").parquet(dir)
    val wide = spark.read.parquet(dir)
    val target = math.max(1, spark.sparkContext.defaultParallelism / 2)
    assert(wide.rdd.getNumPartitions >= target)
    assert(Spread.auto(wide) eq wide)
  }

  test("auto passes a partitioned relation through: its split count " +
    "is not estimated") {
    // one small file — an unpartitioned scan of it would be widened
    val dir = java.nio.file.Files.createTempDirectory("spread-part").toString
    spark.range(0, 100).withColumn("p", lit(1)).coalesce(1)
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val parts = spark.read.parquet(dir)
    assert(Spread.auto(parts) eq parts)
  }
}
