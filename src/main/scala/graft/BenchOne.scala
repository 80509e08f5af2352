package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query timing harness for A/B-ing plans and bench methodology —
  * born from two rounds of driver-vs-builder deltas on UNCHANGED
  * code (r5: q_window_running_total/cdc_compact_agg; r6:
  * dedup_minhash_lsh). Runs each named query N times after a warmup,
  * consumed as [[Bench]] consumes it, and prints every sample plus
  * min/median/max as one JSON line per query, so a regression claim
  * can be tested against the sample DISTRIBUTION instead of a single
  * min-of-2 or median-of-3 point.
  *
  * `--probe` adds where each query's last sample spent its wall
  * clock, without the UI: job/stage/task counts, executor task time
  * vs wall, and the slowest stages with their task time and GC. The
  * fixture-scale gate queries are frequently JOB-COUNT bound (plan +
  * codegen + schedule ~100-300 ms per stage), which per-stage task
  * metrics alone cannot show.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... runMain graft.BenchOne [--probe] <query>... [reps] [gc|nogc]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val (flags, words) = args.toSeq.partition(_ == "--probe")
    val gcArg = words.lastOption.filter(a => a == "gc" || a == "nogc")
    val repsArg = words.dropRight(gcArg.size).lastOption
      .filter(a => a.nonEmpty && a.forall(_.isDigit))
    val names = words.dropRight(gcArg.size + repsArg.size)
    require(names.nonEmpty,
      "usage: BenchOne [--probe] <query>... [reps] [gc|nogc]")
    names.foreach(n => require(SparkEntry.queries.contains(n),
      s"unknown query '$n'"))
    val reps = repsArg.fold(5)(_.toInt)
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val doGc = !gcArg.contains("nogc")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    val probe = if (flags.nonEmpty) Some(new Probe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    def fmt(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        probe.foreach(_.reset())
        val t0 = System.nanoTime()
        Bench.consume(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup: JIT + codegen + FS cache
      val samples = (1 to reps).map { _ =>
        if (doGc) System.gc()
        once()
      }
      val sorted = samples.sorted
      // conventional median: mean of the two mid samples for even reps
      // (upper-mid alone would bias A/B regression calls high)
      val median =
        if (reps % 2 == 1) sorted(reps / 2)
        else (sorted(reps / 2 - 1) + sorted(reps / 2)) / 2.0
      println(s"""{"query":"$name","reps":$reps,"gc":$doGc,""" +
        s""""samples":[${samples.map(fmt).mkString(",")}],""" +
        s""""min":${fmt(sorted.head)},""" +
        s""""median":${fmt(median)},""" +
        s""""max":${fmt(sorted.last)},"sf":"$sfDir"}""")
      probe.foreach(_.report(name, samples.last))
    }
    spark.stop()
  }

  /** Job/stage/task counts and per-stage task time of the queries run
    * since the last `reset()`. */
  private class Probe extends SparkListener {
    private val jobs = new AtomicInteger
    private val stages = new AtomicInteger
    private val tasks = new AtomicInteger
    private val taskMs = new AtomicLong
    private val stageRows = new ConcurrentLinkedQueue[String]
    private val stageTaskMs = new ConcurrentHashMap[Int, java.lang.Long]
    private val stageGcMs = new ConcurrentHashMap[Int, java.lang.Long]

    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      stageRows.clear()
    }

    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val i = s.stageInfo
      val ms = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
      // per-stage executor task time + GC: the wall column alone
      // cannot split "32 concurrent heavy tasks" from "32 cheap
      // tasks behind one straggler" (r14: needed to localize a
      // 38 s task-time query whose stage names are all lambdas)
      val tt: Long = Option(stageTaskMs.remove(i.stageId)).fold(0L)(_.longValue)
      val gc: Long = Option(stageGcMs.remove(i.stageId)).fold(0L)(_.longValue)
      stageRows.add(f"$ms%6d ms  stage ${i.stageId}%4d " +
        f"tasks=${i.numTasks}%3d taskTime=$tt%6d gc=$gc%5d  " +
        i.name.take(60))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskMetrics != null) {
        taskMs.addAndGet(t.taskMetrics.executorRunTime)
        stageTaskMs.merge(t.stageId, t.taskMetrics.executorRunTime, _ + _)
        stageGcMs.merge(t.stageId, t.taskMetrics.jvmGCTime, _ + _)
      }
    }

    def report(name: String, wall: Double): Unit = {
      // settle listener delivery (the bus is async; its drain is
      // private API, so just give it a beat)
      Thread.sleep(300)
      val taskS = taskMs.get / 1000.0
      println(f"PROBE $name wall=$wall%.2fs jobs=${jobs.get} " +
        f"stages=${stages.get} tasks=${tasks.get} " +
        f"taskTime=$taskS%.2fs (parallel ${taskS / wall}%.1fx)")
      stageRows.toArray(Array.empty[String]).sorted.reverse
        .take(12).foreach(r => println("  " + r))
    }
  }
}
