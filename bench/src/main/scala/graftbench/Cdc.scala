package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.meta.TableDef
import graft.operators.Transforms
import graft.sinks.ParquetUpsertSink
import graft.sources.ChangelogFiles
import graft.streaming.{Metrics, Pipeline, Registry}

/** Event-to-commit lag: an event is committed when the first progress
  * event whose source `endOffset` covers its seq arrives, which is
  * after the sink write and the offset commit. */
object Lag {
  /** Events with seqs `lo..hi` (inclusive), all due at `dueMs`. */
  final case class Chunk(lo: Long, hi: Long, dueMs: Long)
  /** A progress event's arrival time and its source `endOffset`. */
  final case class Progress(arrivalMs: Long, endSeq: Long)

  /** (events, lag in seconds) runs; None for events never committed. */
  def attribute(chunks: Seq[Chunk], progress: Seq[Progress]): Seq[(Long, Option[Double])] = {
    val ps = progress.sortBy(_.arrivalMs)
    // committed high-water mark as of each arrival
    val marks = ps.scanLeft(Progress(Long.MinValue, -1L)) { (acc, p) =>
      Progress(p.arrivalMs, math.max(acc.endSeq, p.endSeq))
    }.tail
    chunks.flatMap { c =>
      var from = c.lo
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double])]
      marks.foreach { m =>
        if (from <= c.hi && m.endSeq >= from) {
          val to = math.min(c.hi, m.endSeq)
          out += ((to - from + 1, Some((m.arrivalMs - c.dueMs) / 1000.0)))
          from = to + 1
        }
      }
      if (from <= c.hi) out += ((c.hi - from + 1, None))
      out
    }
  }

  /** One sample per committed event. */
  def samples(runs: Seq[(Long, Option[Double])]): Array[Double] =
    runs.flatMap { case (n, l) => l.toSeq.flatMap(x => Iterator.fill(n.toInt)(x)) }.toArray
}

/** Progress events of every streaming query, stamped on arrival. */
final class ProgressLog extends StreamingQueryListener {
  import ProgressLog.P
  private val q = new ConcurrentLinkedQueue[P]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .map(_.trim.toLong).getOrElse(-1L)
    q.add(P(System.currentTimeMillis(), p.runId, p.batchId, end,
      p.numInputRows, p.batchDuration,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def of(run: java.util.UUID): Seq[P] = q.asScala.filter(_.runId == run).toVector
  /** Batches that read data (idle triggers also report progress). */
  def batches(run: java.util.UUID): Seq[P] = of(run).filter(_.rows > 0)

  /** Wait for a progress event of `run` that satisfies `ok`. */
  def await(run: java.util.UUID, timeoutMs: Long)(ok: P => Boolean): Option[P] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var hit: Option[P] = None
    while (hit.isEmpty && System.currentTimeMillis() < deadline) {
      hit = of(run).find(ok)
      if (hit.isEmpty) Thread.sleep(10)
    }
    hit
  }
}

object ProgressLog {
  final case class P(arrivalMs: Long, runId: java.util.UUID, batchId: Long,
      endSeq: Long, rows: Long, durationMs: Long, phases: Map[String, Long])
}

/** Traced pipeline pieces: a sink wrapper and a staged batch body. */
final class Tracer(spark: SparkSession, sinkDir: String) {
  val spans = new Spans
  val listener = new ExecListener
  // per request (batch): counters the spans do not carry
  val counts = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Double]]()
  private def bump(req: String, kv: (String, Double)*): Unit =
    counts.merge(req, kv.toMap, (a, b) => (a.keySet ++ b.keySet)
      .map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap)

  // compacted rows per (batch, table), handed from the batch body to
  // the sink wrapper so it runs no Spark job of its own
  private val batchRows = new java.util.concurrent.ConcurrentHashMap[(Long, String), java.lang.Long]()

  /** Rows and bytes of a sink table's parquet files, read from their
    * footers on the driver: no Spark job, so nothing of it is counted
    * as the program's execution. The sink keeps table `t` under
    * `<dir>/<schema>.<name>`. */
  private def sinkFiles(t: TableDef): (Long, Long) = {
    val dir = Paths.get(sinkDir, s"${t.schema}.${t.name}")
    if (!Files.isDirectory(dir)) return (0L, 0L)
    val s = Files.list(dir)
    val files = try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toVector
      finally s.close()
    val conf = new org.apache.hadoop.conf.Configuration()
    val rows = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
    (rows, files.map(Files.size).sum)
  }

  /** Times the wrapped sink's `write` and counts what it touched. The
    * tracer's own reads of the sink's files are a `trace.self` span. */
  final class TimedSink(inner: Pipeline.BatchSink) extends Pipeline.BatchSink {
    override def write(batch: DataFrame, t: TableDef, batchId: Long): Unit = {
      val req = s"b$batchId"
      val rows: Long = Option(batchRows.remove((batchId, t.name)))
        .getOrElse(sys.error(s"no compacted row count for $req ${t.name}"))
      val (before, _) = spans.time("trace.self", "streaming.batch", req)(sinkFiles(t))
      spans.time("sinks.write", "streaming.batch", req)(inner.write(batch, t, batchId))
      val (after, bytes) = spans.time("trace.self", "streaming.batch", req)(sinkFiles(t))
      bump(req, "sinks.calls" -> 1, "sinks.useful" -> (if (rows > 0) 1 else 0),
        "sinks.state_rows_read" -> before, "sinks.bytes_written" -> bytes,
        "sinks.rows_written" -> after, "sinks.batch_rows" -> rows)
    }
  }

  /** Pipeline.processBatch with each stage materialised on its own,
    * so a stage's span holds its own work only. */
  def batchBody(routes: Seq[Pipeline.Route], sink: Pipeline.BatchSink)
      (batch: DataFrame, batchId: Long): Unit = {
    val req = s"b$batchId"
    val sc = spark.sparkContext
    sc.setLocalProperty(ExecListener.RequestKey, req)
    try spans.time("streaming.batch", "", req) {
      val src = spans.time("sources.decode", "streaming.batch", req) {
        val b = batch.persist(); bump(req, "rows" -> b.count()); b
      }
      try routes.foreach { r =>
        val typed = spans.time("streaming.route", "streaming.batch", req) {
          val d = Transforms.chain(r.transforms: _*)(Pipeline.routed(src, r)).persist()
          bump(req, "operators.compact_in_rows" -> d.count()); d
        }
        val compact = spans.time("operators.compact", "streaming.batch", req) {
          val c = Pipeline.compacted(typed, r.target).persist()
          val n = c.count()
          batchRows.put((batchId, r.target.name), n)
          bump(req, "operators.compact_out_rows" -> n); c
        }
        try sink.write(compact, r.target, batchId)
        finally { compact.unpersist(); typed.unpersist() }
      } finally src.unpersist()
    } finally sc.setLocalProperty(ExecListener.RequestKey, null)
  }

  /** Per-batch means of every CDC layer metric over `batches`. */
  def layers(batches: Seq[ProgressLog.P], gcMs: Double): Map[String, Double] = {
    val n = batches.size.toDouble
    if (n == 0) return Map.empty
    val reqs = batches.map(b => s"b${b.batchId}")
    val sp = spans.all.filter(s => reqs.contains(s.request))
    def spanMs(name: String) = sp.filter(_.name == name).map(_.ms).sum
    def count(k: String) = reqs.map(r => Option(counts.get(r)).flatMap(_.get(k))
      .getOrElse(0.0)).sum
    def phase(k: String) = batches.map(_.phases.getOrElse(k, 0L)).sum.toDouble
    val ex = reqs.map(listener.get)
    val decodeMs = spanMs("sources.decode")
    val batchMs = batches.map(_.durationMs).sum.toDouble
    val accounted = batches.map(b => (b.phases - "addBatch" - "triggerExecution")
      .values.sum).sum + Seq("sources.decode", "streaming.route", "operators.compact",
      "sinks.write", "trace.self").map(spanMs).sum
    val gap = sp.filter(_.name == "streaming.batch").map { s =>
      val t0 = t0Ms(s)
      s.ms - Intervals.covered(listener.get(s.request).taskIntervals.toSeq.map {
        case (a, b) => (math.max(a, t0), math.min(b, t0 + s.ms.toLong)) })
    }.sum
    Map(
      "sources.latest_offset_ms" -> phase("latestOffset") / n,
      "sources.decode_ms" -> decodeMs / n,
      "sources.decode_rows_per_s" -> count("rows") / math.max(decodeMs / 1000, 1e-9),
      "streaming.batches" -> n,
      "streaming.rows_per_batch" -> count("rows") / n,
      "streaming.route_ms" -> spanMs("streaming.route") / n,
      "streaming.query_planning_ms" -> phase("queryPlanning") / n,
      "streaming.add_batch_ms" -> phase("addBatch") / n,
      "streaming.wal_commit_ms" -> phase("walCommit") / n,
      "streaming.commit_offsets_ms" -> phase("commitOffsets") / n,
      "operators.compact_ms" -> spanMs("operators.compact") / n,
      "operators.compact_in_rows" -> count("operators.compact_in_rows") / n,
      "operators.compact_out_rows" -> count("operators.compact_out_rows") / n,
      "sinks.write_ms" -> spanMs("sinks.write") / n,
      "sinks.calls" -> count("sinks.calls") / n,
      "sinks.useful_ratio" -> count("sinks.useful") / math.max(count("sinks.calls"), 1),
      "sinks.state_rows_read" -> count("sinks.state_rows_read") / n,
      "sinks.bytes_written" -> count("sinks.bytes_written") / n,
      "sinks.write_amplification" ->
        count("sinks.rows_written") / math.max(count("sinks.batch_rows"), 1),
      "spark.exec.jobs" -> ex.map(_.jobs).sum / n,
      "spark.exec.stages" -> ex.map(_.stages).sum / n,
      "spark.exec.tasks" -> ex.map(_.tasks).sum / n,
      "spark.exec.task_run_ms" -> ex.map(_.taskRunMs).sum / n,
      "spark.exec.task_cpu_ms" -> ex.map(_.taskCpuNs).sum / 1e6 / n,
      "spark.exec.spill_bytes" -> ex.map(_.spillBytes).sum / n,
      "spark.exec.parallelism" -> ex.map(_.taskRunMs).sum / (batchMs * Sessions.nproc),
      "spark.exec.driver_gap_ms" -> gap / n,
      "spark.shuffle.read_bytes" -> ex.map(_.shuffleRead).sum / n,
      "spark.shuffle.write_bytes" -> ex.map(_.shuffleWrite).sum / n,
      "jvm.gc_ms" -> gcMs / n,
      "trace.unattributed_frac" -> math.max(0.0, batchMs - accounted) / batchMs)
  }

  // span start in epoch ms (spans use the monotonic clock)
  private val epochAtNs0 = (System.currentTimeMillis(), System.nanoTime())
  private def t0Ms(s: Span): Long = epochAtNs0._1 + (s.startNs - epochAtNs0._2) / 1000000
}

/** `cdc_bulk`: the changelog source, the routes, the compactor and
  * the parquet-upsert sink, wired as graft.Main wires the daemon, on
  * graft.Main's session. */
object Cdc {
  def routes(defs: Seq[TableDef]): Seq[Pipeline.Route] =
    defs.map(t => Pipeline.Route(t.schema, t.name, t))

  def source(spark: SparkSession, log: Path): DataFrame =
    Metrics.observed(Registry.source("changelog", spark, Map("path" -> log.toString)))

  def sink(dir: Path): Pipeline.BatchSink =
    Registry.sink("parquet-upsert", Map("dir" -> dir.toString))

  /** A catch-up stream: `Trigger.AvailableNow`, no batch cap. */
  def start(spark: SparkSession, log: Path, sinkDir: Path, ckpt: Path,
      routes: Seq[Pipeline.Route], tracer: Option[Tracer]): StreamingQuery =
    tracer match {
      case None => Pipeline.start(source(spark, log), routes, sink(sinkDir), ckpt.toString,
        Trigger.AvailableNow())
      case Some(t) =>
        val s = new t.TimedSink(sink(sinkDir))
        source(spark, log).writeStream
          .queryName("graft-cdc")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch((b: DataFrame, id: Long) => t.batchBody(routes, s)(b, id))
          .start()
    }

  /** Sink rows that are missing or wrong against the generator's
    * expected state, plus rows that should not be there. */
  def check(spark: SparkSession, sinkDir: Path, gen: ChangelogGen): (Long, Long) = {
    val reader = new ParquetUpsertSink(sinkDir.toString)
    var expectedRows = 0L
    var bad = 0L
    gen.tableDefs.zipWithIndex.foreach { case (t, i) =>
      val exp = gen.expected(i)
      expectedRows += exp.size
      val got = reader.read(t).select(col("id"), col("k"), col("c"), col("pad"))
        .collect().map(r => r.getInt(0) -> ChangelogGen.Row(r.getInt(1), r.getString(2),
          r.getString(3))).toMap
      bad += exp.asScala.count { case (id, row) => !got.get(id).contains(row) }
      bad += got.keys.count(id => !exp.containsKey(id))
    }
    (expectedRows, bad)
  }

  private def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  // ---------------------------------------------------------------- bulk

  /** Catch-up: AvailableNow, no batch cap, into an empty sink. The log
    * is sysbench's `prepare` of `tables` x `tableSize` rows followed by
    * `transactions` oltp_write_only transactions, in `files` files. */
  def bulk(ctx: Run, tables: Int, tableSize: Int, transactions: Int, files: Int): Result = {
    val spark = Sessions.cdc(ctx.work)
    ctx.header(spark)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val root = Paths.get(ctx.work, "bulk")
    val log = Files.createDirectories(root.resolve("log"))
    val gen = new ChangelogGen(ctx.seed, tables, tableSize)
    val perFile = (tables * tableSize + 4 * transactions + files - 1) / files
    (gen.prepare() ++ gen.transactions(transactions)).grouped(perFile).zipWithIndex
      .foreach { case (lines, f) => ChangelogGen.publish(log, f"part-$f%04d", lines.iterator) }
    val n = gen.nextSeq
    ctx.info(s"log: $n events in $files files, $tables tables x $tableSize rows prepared, " +
      s"$transactions oltp_write_only transactions; ops " +
      gen.ops.map { case (op, k) => f"$op ${100.0 * k / n}%.1f%%" }.mkString(" ") +
      f"; compaction keeps ${gen.touchedKeys} of $n rows (compact_out/compact_in " +
      f"${gen.touchedKeys.toDouble / n}%.4f)")
    val rts = routes(gen.tableDefs)
    var drains = 0
    var lastSink: Path = null

    // the first, cold drain reads one file only: it loads and compiles
    // the code paths without paying a full drain at cold speed. It is
    // the last file, so it runs every op on every table as the full
    // drains do; the first file holds one table's prepare inserts only
    val lastFile = f"part-${files - 1}%04d.jsonl"
    val oneFile = Files.createDirectories(root.resolve("log-one"))
    Files.createLink(oneFile.resolve(lastFile), log.resolve(lastFile))

    def drain(tracer: Option[Tracer], from: Path = log)
        : (Double, Seq[(Long, Option[Double])], Seq[ProgressLog.P]) = {
      if (lastSink != null) rmrf(lastSink.getParent)
      drains += 1
      val d = root.resolve(s"d$drains")
      lastSink = d.resolve("sink")
      val t0 = System.currentTimeMillis()
      val q = start(spark, from, lastSink, d.resolve("ckpt"), rts, tracer)
      require(q.awaitTermination(170000), "drain timed out")
      q.exception.foreach(e => throw e)
      val secs = (System.currentTimeMillis() - t0) / 1000.0
      val last = if (from == log) n - 1 else ChangelogFiles.maxSeq(from.toString)
      val ps = progress.await(q.runId, 10000)(_.endSeq >= last).toSeq
      val lags = Lag.attribute(Seq(Lag.Chunk(0, last, t0)),
        ps.map(p => Lag.Progress(p.arrivalMs, p.endSeq)))
      (secs, lags, progress.batches(q.runId))
    }

    ctx.info(f"warm cold drain of one file: ${drain(None, oneFile)._1}%.3f s")
    // drains keep getting faster past the first two in a row that agree
    val warm = 1 + ctx.warmUp("drain", max = 8, minSeconds = 15)(drain(None)._1)
    ctx.setupDone()
    val clocked = ctx.timed(Jvm.clock(drain(None)))
    val timed = clocked.map(_._1)
    val secs = timed.map(_._1)
    val roundS = Stats.median(secs)
    val lags = Lag.samples(timed.flatMap(_._2))
    ctx.info(f"drains: ${secs.map(s => f"$s%.3f").mkString(" ")} s; " +
      f"cdc_bulk_rows_per_s=${n / roundS}%.1f event lag p50=${Stats.median(lags)}%.3f " +
      s"${Stats.tailReport(lags)}; warm_drains=$warm")
    val e2e = Map(
      "round_s" -> roundS,
      "item_geomean_s" -> Stats.geomean(secs),
      "throughput_per_s" -> n / roundS)

    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val gc0 = Jvm.gcMs
      // the tracer reads sink state from the drain's own directory
      val runs = ctx.timed {
        val t = new Tracer(spark, root.resolve(s"d${drains + 1}").resolve("sink").toString)
        spark.sparkContext.addSparkListener(t.listener)
        val r = drain(Some(t))
        t.listener.drain(spark)
        spark.sparkContext.removeSparkListener(t.listener)
        (r, t)
      }
      val all = new Spans
      runs.flatMap(_._2.spans.all).foreach(all.add)
      all.write(root.resolve("spans.jsonl"))
      val tracedRound = Stats.median(runs.map(_._1._1))
      val perRun = runs.map { case ((_, _, batches), t) =>
        t.layers(batches, (Jvm.gcMs - gc0).toDouble / runs.size) }
      val keysAll = perRun.flatMap(_.keys).distinct
      keysAll.map(k => k -> perRun.map(_.getOrElse(k, 0.0)).sum / perRun.size).toMap ++ Map(
        "trace.overhead_s" -> (tracedRound - roundS))
    }

    val (expectedRows, bad) = check(spark, lastSink, gen)
    ctx.info(f"cdc_failed_frac=${bad.toDouble / expectedRows}%.6f ($bad of $expectedRows rows)")
    spark.stop()
    Result(expectedRows, bad, Nil, e2e, layers, Map("warm_drains" -> warm,
      "drains" -> secs.size, "events" -> n, "compacted_rows" -> gen.touchedKeys,
      "cpu_s_per_round" -> Stats.median(clocked.map(_._3))))
  }
}
