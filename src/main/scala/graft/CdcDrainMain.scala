package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.meta.{ColumnDef, TableDef}

/** CDC drain throughput, measurable ALONE in ~a minute (r12 verdict
  * directive #3: the full Bench sweep takes ~17 min, so its CDC
  * number rides whatever load the 211-query run left behind — the
  * r12 driver sample read 31% under the clean number for exactly
  * that reason). Bench's CDC block runs the same log writer and
  * drain: JSONL changelog → DSv2 graft-changelog source → route →
  * typed decode → per-key compaction → parquet upsert sink,
  * AvailableNow.
  *
  * Usage: runMain graft.CdcDrainMain [sfDir] [shards] [runs]
  * Prints one line per measured drain plus a min/median/max summary —
  * the numbers SCALE.md's methodology row cites.
  */
object CdcDrainMain {

  private val target = TableDef("app", "events", Seq(
    ColumnDef("event_id", "bigint", isPrimaryKey = true),
    ColumnDef("user_id", "bigint"),
    ColumnDef("event_type", "varchar(32)"),
    ColumnDef("value", "double")))

  /** Writes `sfDir`'s events to `logDir` as an insert-only JSONL
    * changelog of `shards` files; returns the event count. */
  def writeLog(spark: SparkSession, sfDir: String, logDir: String,
      shards: Int): Long = {
    // ts → Long ns regardless of the parquet encoding (the driver
    // has shipped both int64-nanos and timestamp[us] — see
    // Tables.normalizeTsNs)
    val ev = Tables.normalizeTsNs(
      spark.read.parquet(s"$sfDir/events.parquet"))
    val n = ev.count()
    // one sorted range-partitioned file per shard: seqs must be
    // monotone WITHIN a file (the source's early-stop contract for
    // append-only shard files)
    ev.select(col("event_id").as("seq"), to_json(struct(
        lit("app").as("db"), lit("events").as("table"),
        lit("insert").as("op"),
        expr("ts div 1000000").as("ts"),
        concat(lit("gtid:"), col("event_id")).as("pos"),
        col("event_id").as("seq"), lit(0).as("tableVersion"),
        map(lit("event_id"), col("event_id").cast("string"),
          lit("user_id"), col("user_id").cast("string"),
          lit("event_type"), col("event_type"),
          lit("value"), col("value").cast("string")).as("after")))
        .as("value"))
      .repartitionByRange(shards, col("seq"))
      .sortWithinPartitions(col("seq"))
      .select(col("value")).write.mode("overwrite").text(logDir)
    Files.list(Paths.get(logDir)).iterator().asScala
      .filter(_.toString.endsWith(".txt")).foreach { p =>
        Files.move(p, p.resolveSibling(p.getFileName.toString + ".jsonl"))
      }
    n
  }

  /** One AvailableNow drain of `logDir` into a fresh upsert sink under
    * `work`: wall seconds, or None when it did not finish in 10 min
    * (it then processed only part of the log). */
  def drain(spark: SparkSession, logDir: String, work: Path,
      tag: String): Option[Double] = {
    val t0 = System.nanoTime()
    val q = graft.streaming.Pipeline.start(
      spark.readStream.format("graft-changelog")
        .option("path", logDir).load(),
      Seq(graft.streaming.Pipeline.Route("app", "events", target)),
      new graft.sinks.ParquetUpsertSink(work.resolve(s"sink-$tag").toString),
      work.resolve(s"ckpt-$tag").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    if (q.awaitTermination(600000)) Some((System.nanoTime() - t0) / 1e9)
    else None
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val shards = args.lift(1).map(_.toInt).getOrElse(8)
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val loadAtStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = GraftSession()
    val tmp = Files.createTempDirectory("graft-cdc-drain")
    val logDir = tmp.resolve("log").toString
    val n = writeLog(spark, sfDir, logDir, shards)
    def timed(tag: String): Double = drain(spark, logDir, tmp, tag)
      .getOrElse(sys.error(s"drain $tag timed out"))
    timed("warmup") // streaming-engine init + FS cache, paid once
    val secs = (1 to runs).map(i => timed(s"m$i"))
    val rates = secs.map(n / _).sorted
    rates.zipWithIndex.foreach { case (r, i) =>
      println(f"drain ${i + 1}: ${r}%.0f rows/s") }
    // true median: even run counts average the two middle elements
    // (rates(size/2) alone is the upper-middle — biased toward the
    // faster rate; SCALE.md cites this number)
    val med =
      if (rates.size % 2 == 1) rates(rates.size / 2)
      else (rates(rates.size / 2 - 1) + rates(rates.size / 2)) / 2.0
    println(f"""{"rows":$n,"shards":$shards,"runs":$runs,""" +
      f""""min":${rates.head}%.0f,"median":$med%.0f,""" +
      f""""max":${rates.last}%.0f,"load_start":$loadAtStart%.2f}""")
    spark.stop()
  }
}
