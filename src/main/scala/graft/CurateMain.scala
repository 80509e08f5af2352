package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.config.Toml
import graft.ops.Curation

/** Corpus-curation CLI — the training-data counterpart of the CDC
  * daemon [[Main]]: one TOML config describes input corpus → curation
  * stages → partitioned output, and the run prints a one-line JSON
  * funnel (per-stage survivor counts, measured by `observe()` on the
  * SAME write action — no extra passes).
  *
  * ```
  * spark-submit --class graft.CurateMain graft.jar --config curate.toml
  * ```
  *
  * Config:
  * ```toml
  * [input]
  * path = "/data/documents.parquet"
  * id-column = "doc_id"      # default
  * text-column = "text"      # default
  *
  * [[stages]]
  * type = "quality-filter"   # quality-filter | langid-filter |
  * min-score = 0.5           # length-filter | repetition-filter |
  *                           # dedup-exact | dedup-near | span-scrub |
  *                           # split
  * [output]
  * dir = "/data/curated"
  * partition-by = "split"    # optional
  * ```
  */
object CurateMain {

  /** Assemble + run; returns (output rows, per-stage funnel). Public
    * and driver-free so tests exercise the full config path without
    * a JVM spawn.
    *
    * `[input] stream = "true"` switches to INCREMENTAL ingestion:
    * the input dir becomes a file-stream source with a persistent
    * checkpoint (default `<output.dir>.checkpoint`), so re-running
    * the same config processes only files that landed since the last
    * run — the continuous-crawl shape — and the output APPENDS.
    * Every configured stage must be per-batch-sound
    * ([[Curation.Stage.streamable]]): row-local filters, split,
    * decontaminate, and the index-backed dedups (whose persisted
    * indexes make "seen before" global across batches AND runs);
    * corpus-global stages are refused loudly rather than silently
    * weakened to batch-local decisions. */
  def run(spark: SparkSession, configText: String,
      retrain: Boolean = false): (Long, Seq[(String, Long)]) = {
    val tree = Toml.parseTree(configText)
    def opt(path: String): Option[String] =
      Toml.at(tree, path).map(_.toString)
    val inPath = opt("input.path").getOrElse(sys.error("required: input.path"))
    val idCol = opt("input.id-column").getOrElse("doc_id")
    val textCol = opt("input.text-column").getOrElse("text")
    // input.format: parquet (default) | warc | webdataset — the
    // container formats ingest through their native walks
    // (functions/WarcCodec, functions/TarCodec) into the standard
    // (id, text, ...) corpus shape before any stage runs
    val inFormat = opt("input.format").getOrElse("parquet")
    val outDir = opt("output.dir").getOrElse(sys.error("required: output.dir"))
    val partitionBy = opt("output.partition-by")
    val streaming = streamingMode(tree)

    // compile with ONE shared ranking-slot registry, so retrieve
    // stages can feed fuse/hard-negatives stages downstream
    val stages = Curation.compile(
      Toml.tablesAt(tree, "stages"), textCol, idCol, spark, retrain)

    if (!streaming) {
      val corpus = inFormat match {
        case "parquet" => spark.read.parquet(inPath)
        case "warc" | "webdataset" =>
          CurateMain.fromContainers(
            spark.read.format("binaryFile")
              .option("pathGlobFilter", containerGlob(inFormat))
              .load(inPath),
            inFormat, idCol, textCol)
        case other => sys.error(s"unknown input.format '$other' " +
          "(know parquet, warc, webdataset)")
      }
      val (curated, observations) = Curation.assemble(corpus, stages)
      val writer = curated.write.mode("overwrite")
      partitionBy.fold(writer)(c => writer.partitionBy(c)).parquet(outDir)
      // external side effects (near-dup index append) land ONLY after
      // the output write succeeded — a failed run must not mutate
      // anything a re-run depends on
      stages.foreach(_.postCommit())
      val funnel = observations.map { case (name, ob) =>
        // AQE empty-relation propagation can PRUNE an observed
        // subtree when a stage drains the corpus to zero rows — the
        // CollectMetrics node then never fires and the metric map
        // comes back empty. An absent count after a completed write
        // IS zero, not an error.
        name -> ob.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
      }
      (funnel.last._2, funnel)
    } else {
      val bad = stages.filterNot(_.streamable).map(_.name)
      require(bad.isEmpty,
        s"stages not streamable (corpus-global semantics): " +
          s"${bad.mkString(", ")} — use the index-backed dedup modes " +
          "or run these in a batch pass over the accumulated output")
      val ckpt = opt("input.checkpoint").getOrElse(outDir + ".checkpoint")
      val maxFiles = opt("input.max-files-per-trigger").getOrElse("1000")
      val src = inFormat match {
        case "parquet" =>
          // schema from the files already present (a file-stream
          // source needs one up front); then it watches for NEW files
          val schema = spark.read.parquet(inPath).schema
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", maxFiles)
            .parquet(inPath)
        case "warc" =>
          // binaryFile streams with a FIXED schema; the record
          // explode is a narrow per-batch transform, so the drain
          // stays incremental (one shard file = one unit of arrival)
          CurateMain.fromContainers(
            spark.readStream.format("binaryFile")
              .schema(CurateMain.binaryFileSchema)
              .option("pathGlobFilter", containerGlob("warc"))
              .option("maxFilesPerTrigger", maxFiles)
              .load(inPath),
            "warc", idCol, textCol)
        case "webdataset" =>
          // sample reassembly is a per-shard AGGREGATION — per-batch
          // it would silently weaken to batch-local grouping only if
          // a sample could span shards; it cannot (WebDataset keys
          // are shard-local), so grouping inside foreachBatch is
          // sound. Still, keep the contract simple: refuse here and
          // point at the batch path until a use case needs it.
          sys.error("input.format=webdataset is batch-only " +
            "(sample reassembly groups per shard); drop stream=true")
        case other => sys.error(s"unknown input.format '$other'")
      }
      // Funnel counts keyed by batchId so a batch retried WITHIN this
      // run overwrites its own entry instead of double-counting. The
      // funnel is still PER-RUN diagnostics (it cannot see batches a
      // previous crashed run wrote): the cumulative corpus truth is
      // the output dir itself, one `__ingest_batch` partition per
      // batch. The printed JSON carries "funnel_scope":"run" to make
      // that contract explicit.
      val perBatch = scala.collection.mutable
        .LinkedHashMap.empty[Long, Seq[(String, Long)]]
      // one starvation probe per RUN (first batch only): .rdd
      // re-plans the batch frame, so probing every batch would pay
      // that planning cost per trigger for a warning that cannot
      // change mid-run (trigger size and shard sizes are fixed)
      val starvationProbed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val q = src.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          if (starvationProbed.compareAndSet(false, true))
            starvedBatchWarning(batch.rdd.getNumPartitions,
              spark.sparkContext.defaultParallelism)
              .foreach(w => Console.err.println(s"WARN CurateMain: $w"))
          // same ordering contract as the batch path, per micro-batch:
          // stages → output write → index postCommit. The write is
          // IDEMPOTENT under replay: rows land in an
          // `__ingest_batch=<id>` partition with dynamic partition
          // overwrite, so a batch replayed after a crash between the
          // output write and the checkpoint commit OVERWRITES its own
          // partition instead of appending duplicates (foreachBatch
          // is at-least-once; a plain append would double-admit —
          // the column doubles as ingestion provenance).
          // assembleStaged, not assemble: observe() instrumentation
          // is unreliable across the stage-internal actions of a
          // multi-micro-batch query (see Curation.assembleStaged's
          // doc; CurationMultiBatchSpec pins this path)
          val (curated, taps) = Curation.assembleStaged(batch, stages)
          val parts = Seq("__ingest_batch") ++ partitionBy.toSeq
          curated
            .withColumn("__ingest_batch",
              org.apache.spark.sql.functions.lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(parts: _*).parquet(outDir)
          // funnel counts BEFORE postCommit: postCommit may release
          // the index stages' materialized frames, and counting them
          // afterwards would re-run the index lookups
          perBatch(batchId) = taps.map { case (name, df) =>
            name -> df.count()
          }
          stages.foreach(_.postCommit())
          ()
        }
        .start()
      q.awaitTermination()
      val totals = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      perBatch.values.foreach(_.foreach { case (name, n) =>
        totals(name) = totals.getOrElse(name, 0L) + n
      })
      val funnel = totals.toSeq
      (funnel.lastOption.map(_._2).getOrElse(0L), funnel)
    }
  }

  /** THE stream-mode decision — one definition shared by [[run]] and
    * [[main]]'s `funnel_scope` label, so the printed scope can never
    * drift from the mode the run actually executed in. */
  private def streamingMode(tree: Map[String, Any]): Boolean =
    Toml.at(tree, "input.stream").exists(_.toString.toBoolean)

  /** Micro-batch core starvation check (r14, measured in SCALE.md
    * "Char-mode second scale point"): when `maxFilesPerTrigger`
    * admits only a few small files per batch, the scan plans one
    * task per file (small files never split), so the WHOLE batch
    * runs on that many cores while the rest idle — on the measured
    * sweep, a 4-file trigger on 32 cores made 3× the corpus cost
    * 3.85× the wall, and the same corpus in executor-saturating
    * batches cost 2.08× (sub-linear). The warning names the fix
    * (raise `max-files-per-trigger`, or size shard files so a batch
    * covers the executor) rather than silently coalescing or
    * repartitioning: a repartition would pay a per-batch shuffle,
    * and arrival-unit sizing is an ingest-layout decision the
    * pipeline must not second-guess. Warn only below HALF the
    * executor's cores — a batch at ≥cores/2 is within 2× of
    * saturation, which ambient skew can account for. */
  def starvedBatchWarning(batchPartitions: Int, cores: Int): Option[String] =
    if (batchPartitions > 0 && batchPartitions * 2 < cores)
      Some(s"micro-batches scan $batchPartitions partition(s) on " +
        s"$cores cores — the drain runs ${cores / batchPartitions}x " +
        "slower than the executor allows. Raise input.max-files-per-" +
        "trigger (or use bigger shard files) so one batch covers the " +
        "executor; see SCALE.md 'Char-mode second scale point'.")
    else None

  /** binaryFile's fixed source schema (a file-STREAM source must be
    * given one up front). */
  val binaryFileSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))

  private def containerGlob(format: String): String = format match {
    case "warc" => "*.{warc,warc.gz}"
    case _ => "*.tar"
  }

  /** Container shards (binaryFile rows) → the (id, text, ...) corpus
    * shape the stages consume. Ids are stable content-path hashes, so
    * re-ingesting the same shard yields the same ids (what the
    * index-backed dedups key on across runs).
    *
    *  - warc: response records only; text = [[graft.functions
    *    .HtmlText]] of the payload; uri kept as provenance.
    *  - webdataset: members reassemble by sample key (name before
    *    the first dot); the `.txt` member becomes text, `.cls` the
    *    label, the first image member rides along as `payload` for
    *    media stages. */
  def fromContainers(files: org.apache.spark.sql.DataFrame,
      format: String, idCol: String, textCol: String):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.GraftExtensions.ensure(files.sparkSession)
    format match {
      case "warc" =>
        files.select(col("path"),
          explode(call_function("warc_records", col("content"))).as("r"))
          .filter(col("r.rec_type") === "response")
          .select(
            xxhash64(col("path"), col("r.target_uri")).as(idCol),
            col("r.target_uri").as("uri"),
            call_function("html_text",
              col("r.payload").cast("string")).as(textCol))
      case "webdataset" =>
        files.select(col("path"), col("content").as("shard"))
          .select(col("path"), col("shard"),
            explode(call_function("tar_entries", col("shard"))).as("e"))
          .select(col("path"),
            substring_index(col("e.name"), ".", 1).as("__key"),
            substring_index(col("e.name"), ".", -1).as("__ext"),
            expr("substring(shard, e.offset + 1, e.size)").as("__payload"))
          .groupBy(col("path"), col("__key"))
          .agg(
            min(when(col("__ext") === "txt",
              col("__payload").cast("string"))).as(textCol),
            min(when(col("__ext") === "cls",
              col("__payload").cast("string"))).as("label"),
            min(when(col("__ext").isin("png", "jpg", "jpeg", "gif",
              "bmp", "tiff"), col("__payload"))).as("payload"))
          .select(xxhash64(col("path"), col("__key")).as(idCol),
            col("__key").as("sample_key"), col(textCol), col("label"),
            col("payload"))
      case other => sys.error(s"unknown container format '$other'")
    }
  }

  /** Layout-dispatching index compaction (the `--compact-index`
    * body): an IncrementalAnn dir carries `_graft_cells`, a dedup
    * index `_graft_buckets` — the filesystem marker, not the
    * operator's memory, decides. Returns the kind compacted. The
    * marker check goes through the path's own Hadoop FS, like every
    * other index access. */
  def compactAnyIndex(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(new org.apache.hadoop.fs.Path(p, "_graft_cells"))) {
      graft.ops.IncrementalAnn.compact(spark, dir)
      "ann"
    } else {
      graft.ops.IncrementalDedup.compactIndex(spark, dir)
      "dedup"
    }
  }

  def main(args: Array[String]): Unit = {
    // maintenance mode: compact a persisted index in place (collapse
    // at-least-once replay duplicates, crash-safe swap) and exit.
    // The flag dispatches on the LAYOUT: an IncrementalAnn dir
    // carries a `_graft_cells` marker, a dedup index `_graft_buckets`
    // — one maintenance entry covers both, so an operator's replay
    // runbook is the same command either way.
    if (args.contains("--compact-index")) {
      val dir = args.sliding(2).collectFirst {
        case Array("--compact-index", d) if !d.startsWith("--") => d
      }.getOrElse(sys.error("--compact-index requires an index directory"))
      val spark = GraftSession(extra = GraftSession.cli)
      try {
        val kind = compactAnyIndex(spark, dir)
        // escape: the dir is user input inside a JSON-line contract
        val esc = dir.replace("\\", "\\\\").replace("\"", "\\\"")
        println(s"""{"compacted_index":"$esc","kind":"$kind"}""")
      } finally spark.stop()
      return
    }
    val configPath = args.sliding(2).collectFirst {
      case Array("--config", p) => p
    }.getOrElse(sys.error("required: --config <curate.toml>"))
    val spark = GraftSession(extra = GraftSession.cli)
    try {
      val configText = Files.readString(Paths.get(configPath))
      // --retrain: model-backed stages with a model-dir train from
      // their configured corpora and COMMIT the model tables before
      // serving; without it they serve the committed model (and
      // refuse loudly if none exists)
      val (n, funnel) = run(spark, configText,
        retrain = args.contains("--retrain"))
      val stagesJson = funnel.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      // funnel_scope: "corpus" = the whole input; "run" = only this
      // run's micro-batches (stream mode) — the cumulative truth for
      // an incremental corpus is the output dir's __ingest_batch
      // partitions, not this line
      val scope =
        if (streamingMode(Toml.parseTree(configText))) "run" else "corpus"
      // one parseable line, same contract as Bench's output
      println(s"""{"curated_rows":$n,"funnel_scope":"$scope",""" +
        s""""funnel":$stagesJson}""")
    } finally spark.stop()
  }
}
