package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}

/** `query_mix`: one closed-loop client running the gate queries in a
  * seed-shuffled order, pass after pass, on graft.Bench's session. */
object QueryMix {

  /** A scan-bound and a shuffle-bound relational query beside a
    * dependent job chain (ann_ivfpq_topk: a chain of broadcast builds). */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q5_region_nation_revenue", "ann_ivfpq_topk")

  type Query = (SparkSession, String) => DataFrame

  /** Bench's consumption: every output column evaluated on the
    * executors, nothing collected to the driver. */
  def consume(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  def run(ctx: Run): Result = {
    val spark = Sessions.query(ctx.work)
    ctx.header(spark)
    val all = graft.SparkEntry.queries
    val missing = Queries.filterNot(all.contains)
    require(missing.isEmpty, s"queries missing from SparkEntry: $missing")
    val order = new Random(ctx.seed).shuffle(Queries)
    val fns: Seq[(String, Query)] = order.map(n => n -> all(n))
    ctx.info(s"order: ${order.mkString(",")}")
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def timeOnce(name: String, fn: Query): Option[Double] = {
      val t0 = System.nanoTime()
      try { consume(fn(spark, ctx.data)); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        failed.getOrElseUpdate(name, String.valueOf(e).linesIterator.nextOption()
          .getOrElse("").take(300))
        None
      }
    }
    def pass(): Map[String, Double] =
      fns.flatMap { case (n, f) => timeOnce(n, f).map(n -> _) }.toMap

    // the first (cold) pass writes every output for the oracle check;
    // it is set-up, as are the warm passes that follow it
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val outDir = s"${ctx.work}/query_out"
    fns.foreach { case (n, f) =>
      try f(spark, ctx.data).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      catch { case e: Throwable => failed.getOrElseUpdate(n, String.valueOf(e).take(300)) }
    }
    spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val oracle = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json.value(Queries.flatMap(n => oracle.get(n).map(n -> _)).toMap))
    // the JIT keeps improving these paths for tens of seconds
    val warm = 1 + ctx.warmUp("pass", max = 4, minSeconds = 10)(pass().values.sum)
    ctx.setupDone()

    // untraced timed region: whole passes until the time is spent
    val clocked = ctx.timed {
      val c = Jvm.clock(pass())
      ctx.info(f"timed pass: ${c._2}%.3f s wall, ${c._3}%.3f s cpu")
      c
    }
    val timed = clocked.map(_._1)
    val passes = timed.size
    val samples = Queries.map(n => n -> timed.flatMap(_.get(n))).filter(_._2.nonEmpty).toMap
    val medians = Queries.filter(samples.contains).map(n => n -> Stats.median(samples(n)))
    medians.sortBy(-_._2).foreach { case (n, m) =>
      ctx.info(f"  $n%-26s median ${m}%.4f s over ${samples(n).size} runs")
    }
    val ms = medians.map(_._2)
    val roundS = ms.sum
    val attempted = passes * Queries.size
    val nFailed = attempted - samples.values.map(_.size).sum
    failed.foreach { case (n, e) => ctx.info(s"  FAILED $n: $e") }
    ctx.info(f"query_mix_s=$roundS%.4f query_geomean_s=${Stats.geomean(ms)}%.4f " +
      f"query_failed_frac=${nFailed.toDouble / attempted}%.4f passes=$passes warm_passes=$warm")

    val e2e = Map(
      "round_s" -> roundS,
      "item_geomean_s" -> Stats.geomean(ms),
      "throughput_per_s" -> (attempted - nFailed) / timed.map(_.values.sum).sum)

    val layers = if (ctx.trace) traced(ctx, spark, fns, roundS) else Map.empty[String, Double]

    spark.stop()
    Result(attempted, nFailed, failed.keys.toSeq, e2e, layers,
      Map("warm_passes" -> warm, "passes" -> passes,
        "cpu_s_per_round" -> Stats.median(clocked.map(_._3))))
  }

  /** Traced passes: spans around build / plan / execute, listener
    * counters per query, planning phases from the query's tracker. */
  private def traced(ctx: Run, spark: SparkSession, fns: Seq[(String, Query)],
      untracedRoundS: Double): Map[String, Double] = {
    val sc = spark.sparkContext
    val listener = new ExecListener
    sc.addSparkListener(listener)
    val spans = new Spans
    val agg = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var wallMs = 0.0
    var unattributedMs = 0.0
    val perQuery = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val gc0 = Jvm.gcMs
    var passes = 0
    val tEnd = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (passes < 2 || System.nanoTime() < tEnd) {
      passes += 1
      fns.foreach { case (name, fn) =>
        val req = s"p$passes/$name"
        val ms0 = System.currentTimeMillis()
        val ns0 = System.nanoTime()
        def epochMs(ns: Long) = ms0 + (ns - ns0) / 1e6
        var phases = Map.empty[String, Double]
        var plan: SparkPlan = null
        spans.time("query", "", req) {
          sc.setLocalProperty(ExecListener.RequestKey, s"$req/build")
          val df = spans.time("queries.build", "query", req)(fn(spark, ctx.data))
          sc.setLocalProperty(ExecListener.RequestKey, req)
          val qe = df.queryExecution
          spans.time("spark.plan", "query", req)(qe.executedPlan)
          spans.time("spark.exec", "query", req)(qe.toRdd.foreach(_ => ()))
          phases = Seq("analysis", "optimization", "planning").map { p =>
            p -> qe.tracker.phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
          }.toMap
          plan = qe.executedPlan
        }
        sc.setLocalProperty(ExecListener.RequestKey, null)
        listener.drain(spark)
        val my = spans.all.filter(_.request == req)
        val q = my.find(_.name == "query").get
        perQuery(name) = perQuery(name) :+ q.ms / 1000
        val build = listener.get(s"$req/build")
        val exec = listener.get(req)
        phases.foreach { case (p, v) => agg(s"spark.plan.${p}_ms") += v }
        agg("spark.plan.broadcasts") += broadcasts(plan)
        agg("queries.build_ms") += my.filter(_.name == "queries.build").map(_.ms).sum
        agg("queries.eager_jobs") += build.jobs
        Seq(build, exec).foreach { c =>
          agg("spark.exec.jobs") += c.jobs
          agg("spark.exec.stages") += c.stages
          agg("spark.exec.tasks") += c.tasks
          agg("spark.exec.task_run_ms") += c.taskRunMs
          agg("spark.exec.task_cpu_ms") += c.taskCpuNs / 1e6
          agg("spark.exec.spill_bytes") += c.spillBytes
          agg("spark.shuffle.read_bytes") += c.shuffleRead
          agg("spark.shuffle.write_bytes") += c.shuffleWrite
        }
        val qs = epochMs(q.startNs); val qeEnd = epochMs(q.endNs)
        def clip(a: Double, b: Double) = ((math.max(a, qs) * 1000).toLong,
          (math.min(b, qeEnd) * 1000).toLong)
        val tasks = (build.taskIntervals ++ exec.taskIntervals)
          .map { case (a, b) => clip(a.toDouble, b.toDouble) }.toSeq
        val busyMs = Intervals.covered(tasks) / 1000.0
        agg("spark.exec.driver_gap_ms") += q.ms - busyMs
        val layered = my.filter(s => s.name == "queries.build" || s.name == "spark.plan")
          .map(s => clip(epochMs(s.startNs), epochMs(s.endNs)))
        unattributedMs += q.ms - Intervals.covered(tasks ++ layered) / 1000.0
        wallMs += q.ms
      }
    }
    val out = agg.map { case (k, v) => k -> v / passes }.toMap
    val roundS = perQuery.values.map(Stats.median).sum
    spans.write(java.nio.file.Paths.get(s"${ctx.work}/spans.jsonl"))
    ctx.info(f"traced: passes=$passes round_s=$roundS%.4f untraced=$untracedRoundS%.4f")
    out ++ Map(
      "spark.exec.parallelism" ->
        agg("spark.exec.task_run_ms") / (wallMs * Sessions.nproc),
      "jvm.gc_ms" -> (Jvm.gcMs - gc0).toDouble / passes,
      "trace.overhead_s" -> (roundS - untracedRoundS),
      "trace.unattributed_frac" -> unattributedMs / wallMs)
  }

  /** Broadcast exchanges in the final (post-AQE) plan, subqueries
    * included; a reused exchange is not built again, so not counted. */
  def broadcasts(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _: ReusedExchangeExec => return Seq(p)
        case _ => Nil
      }
      p +: (p.children ++ p.subqueries ++ inner).flatMap(walk)
    }
    walk(plan).count(_.isInstanceOf[BroadcastExchangeExec])
  }
}
