package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Order statistics used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Percentiles a report may quote, in increasing order. */
  val Ladder: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9, 99.99)

  /** The highest percentile of [[Ladder]] that still has at least
    * `minBeyond` of `n` samples above it; None when even the median
    * does not. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.filter(p => (1.0 - p / 100.0) * n >= minBeyond - 1e-9).lastOption

  /** Tail percentile label, its value and the sample count, e.g.
    * `p99=4.21 (n=1830)`. */
  def tailReport(xs: Seq[Double]): String =
    tailPercentile(xs.size) match {
      case Some(p) => f"p$p%s=${quantile(xs, p / 100.0)}%.4f (n=${xs.size})"
      case None => s"no percentile has 10 samples beyond it (n=${xs.size})"
    }
}

/** One traced interval at a layer boundary. */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: String, request: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span store; written out once when the run ends. */
final class Spans {
  private val q = new ConcurrentLinkedQueue[Span]()

  def time[T](name: String, parent: String, request: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally q.add(Span(name, t0, System.nanoTime(), parent, request))
  }

  def add(s: Span): Unit = q.add(s)
  def all: Seq[Span] = q.asScala.toVector

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      Json.obj("name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "request" -> s.request)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Intervals {
  /** Length of the union of half-open intervals. */
  def covered(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-request execution counters from the Spark listener bus. A
  * request is named by the `graftbench.request` local property on the
  * thread that submits its jobs. */
final class ExecListener extends SparkListener {
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskRunMs = 0L; var taskCpuNs = 0L; var spillBytes = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L
    // task (launch, finish) epoch ms, for busy/idle wall time
    val taskIntervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val byRequest = scala.collection.mutable.HashMap.empty[String, Counters]
  private val stageRequest = scala.collection.mutable.HashMap.empty[Int, String]
  private val jobRequest = scala.collection.mutable.HashMap.empty[Int, String]

  private def counters(r: String): Counters =
    byRequest.getOrElseUpdate(r, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val r = Option(e.properties).flatMap(p =>
      Option(p.getProperty(ExecListener.RequestKey))).getOrElse("-")
    jobRequest(e.jobId) = r
    val c = counters(r)
    c.jobs += 1
    c.stages += e.stageInfos.size
    e.stageIds.foreach(stageRequest(_) = r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRequest.remove(e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stageRequest.getOrElse(e.stageId, "-")
    val c = counters(r)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
    val ti = e.taskInfo
    if (ti != null && ti.finishTime > 0)
      c.taskIntervals += ((ti.launchTime, ti.finishTime))
  }

  def get(r: String): Counters = synchronized(counters(r))

  /** Block until the listener bus has delivered every job started so
    * far (the bus is asynchronous). */
  def drain(spark: SparkSession, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = synchronized(jobRequest.nonEmpty)
    val tracker = spark.sparkContext.statusTracker
    def active = tracker.getActiveJobIds().nonEmpty
    while ((pending || active) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    // the last task/job events trail the job's completion by a little
    Thread.sleep(20)
  }
}

object ExecListener {
  val RequestKey = "graftbench.request"
}

/** Peak live heap: the largest old-generation occupancy right after
  * a full collection, taken at fixed points of a run (end of set-up
  * and after every timed operation), so it reads the live set rather
  * than garbage a young collection happened to promote. */
final class HeapSampler {
  private val old = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.isCollectionUsageThresholdSupported &&
      Seq("Old Gen", "Tenured").exists(p.getName.contains))
  private var peak = 0L

  def gcAndSample(): Unit = {
    // the second collection frees what the first one's reference
    // processing (Spark's ContextCleaner) released in between
    System.gc()
    Thread.sleep(100)
    System.gc()
    old.foreach(p => Option(p.getCollectionUsage).foreach(u => peak = math.max(peak, u.getUsed)))
  }

  def peakMb: Double = peak / 1048576.0
  def poolName: String = old.map(_.getName).getOrElse("none")
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, all threads. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Wall and process-CPU seconds of `f`. */
  def clock[T](f: => T): (T, Double, Double) = {
    val (w0, c0) = (System.nanoTime(), cpuS)
    val r = f
    (r, (System.nanoTime() - w0) / 1e9, cpuS - c0)
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

/** Minimal JSON rendering for the harness's own outputs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** The two session shapes the program's own mains build. */
object Sessions {
  def nproc: Int = Runtime.getRuntime.availableProcessors

  private def base(work: String) = SparkSession.builder()
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")

  /** graft.Bench's session. */
  def query(work: String): SparkSession = base(work)
    .master(s"local[$nproc]")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  /** graft.Main's session (the CDC daemon), on local[nproc]. */
  def cdc(work: String): SparkSession = base(work)
    .master(s"local[$nproc]")
    .appName("graft-cdc")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    .getOrCreate()

  /** The settings that shape a run, for the report header. */
  def effectiveConf(spark: SparkSession): Map[String, String] = {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.sql.extensions",
      "spark.sql.optimizer.excludedRules",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "spark.sql.adaptive.enabled", "spark.sql.legacy.parquet.nanosAsLong")
    val core = spark.sparkContext.getConf
    keys.flatMap(k => spark.conf.getOption(k).orElse(core.getOption(k))
      .map(k -> _)).toMap
  }
}
