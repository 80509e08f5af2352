package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload hands back: counts, end-to-end and per-layer
  * metrics, and facts for the report. */
final case class Result(attempted: Long, failed: Long, failures: Seq[String],
    e2e: Map[String, Double], layers: Map[String, Double], facts: Map[String, Any])

/** One run's settings and the measurements every workload shares. */
final class Run(val seed: Long, val seconds: Double, val trace: Boolean,
    val work: String, val data: String, startMs: Long) {
  val heap = new HeapSampler
  @volatile var setupS: Double = Double.NaN
  private val loadStart = Jvm.loadAvg

  def info(s: String): Unit = println(s"[bench] $s")

  def header(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val rt = Runtime.getRuntime
    info(s"nproc=${Sessions.nproc} jvm=${System.getProperty("java.vm.name")} " +
      s"${System.getProperty("java.version")} heap_max_mb=${rt.maxMemory / 1048576} " +
      s"old_gen_pool='${heap.poolName}' seed=$seed seconds=$seconds trace=$trace " +
      f"load_start=$loadStart%.2f")
    Sessions.effectiveConf(spark).toSeq.sorted.foreach { case (k, v) => info(s"config $k=$v") }
  }

  /** Repeat `f` until two consecutive values agree within 10%
    * (relative to the smaller) and at least `minSeconds` have passed,
    * at most `max` times. Returns how many ran. */
  def warmUp(what: String, max: Int, minSeconds: Double)(f: => Double): Int = {
    val t0 = System.nanoTime()
    var prev = Double.NaN
    var n = 0
    var done = false
    while (n < max && !done) {
      val v = f
      n += 1
      val agreed = !prev.isNaN && math.abs(v - prev) <= 0.10 * math.min(v, prev)
      done = agreed && (System.nanoTime() - t0) / 1e9 >= minSeconds
      info(f"warm $what $n: $v%.3f s")
      prev = v
    }
    n
  }

  /** Marks the end of set-up: everything before the first timed
    * operation, from process start. */
  def setupDone(): Unit = {
    heap.gcAndSample()
    setupS = (System.currentTimeMillis() - startMs) / 1000.0
    info(f"setup_s=$setupS%.3f")
  }

  /** Repeat `f` until `seconds` have passed, at least twice; the live
    * heap is sampled after each repetition. */
  def timed[T](f: => T): Seq[T] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = Vector.newBuilder[T]
    var n = 0
    while (n < 2 || System.nanoTime() < end) { out += f; heap.gcAndSample(); n += 1 }
    out.result()
  }

  def loadEnd: Double = Jvm.loadAvg
}

/** Entry point: `graftbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> [--data <dir>]
  * [--start-ms <epoch ms>] --out <result.json>` */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val run = new Run(opts("seed").toLong, opts("seconds").toDouble,
      opts.getOrElse("trace", "0") == "1", opts("work"), opts.getOrElse("data", ""),
      opts.get("start-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime))
    Files.createDirectories(Paths.get(run.work))
    val r = try workload match {
      case "query_mix" => QueryMix.run(run)
      // sysbench's default --table-size; 100,000 events in all
      case "cdc_bulk" => Cdc.bulk(run, tables = 2, tableSize = 10000,
        transactions = 20000, files = 8)
      case other => sys.error(s"unknown workload: $other")
    } catch { case e: Throwable =>
      run.info(s"FAILED: $e")
      e.printStackTrace()
      sys.exit(1)
    }
    // Process-level figures, reported as layer metrics: the live heap
    // grows with the queries a run executes (Spark keeps each
    // execution's plan in its status store) and process CPU per round
    // spread wider than the bounds allow, so neither is a bounded
    // end-to-end metric.
    val jvm = Map("jvm.heap_live_peak_mb" -> run.heap.peakMb) ++
      r.facts.get("cpu_s_per_round").map("jvm.cpu_s_per_round" -> _.asInstanceOf[Double])
    jvm.foreach { case (k, v) => run.info(f"$k=$v%.3f") }
    val layers = if (run.trace) r.layers ++ jvm else r.layers
    val json = Json.obj(
      "workload" -> workload, "attempted" -> r.attempted, "failed" -> r.failed,
      "failures" -> r.failures, "end_to_end" -> (r.e2e + ("setup_s" -> run.setupS)),
      "per_layer" -> layers,
      "facts" -> (r.facts ++ Map("load_end" -> run.loadEnd)))
    Files.writeString(Paths.get(opts("out")), json)
    run.info(f"load_end=${run.loadEnd}%.2f")
  }
}
