package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** sf1 streaming-curation soak (round-10 verdict item 4) — the
  * runbook main behind SCALE.md's "streaming curation at sf1" row.
  *
  * Protocol: the sf corpus is sharded into 8 parquet files landing
  * incrementally in a file-stream input. The pipeline (quality
  * filter → vocab-aware bpe-tokenize → index-backed exact dedup →
  * index-backed near dedup, maxFilesPerTrigger=1 so every shard is
  * its own micro-batch) drains in THREE adversarial incarnations
  * sharing one checkpoint:
  *
  *   1. shards 0-2 land → clean drain;
  *   2. shards 3-7 land → the drain is STOPPED after its first
  *      commit (mid-run interrupt), and the torn-state case is
  *      forced by deleting the newest checkpoint commit marker —
  *      the classic "offsets written, commit missing" crash window,
  *      so the next incarnation MUST replay that batch;
  *   3. the drain resumes to completion, then one more run verifies
  *      a no-new-files replay admits zero rows.
  *
  * Ground truth is a CLEAN single-incarnation stream over the same 8
  * shards with fresh indexes/checkpoint: the soak asserts the
  * crashed+torn+replayed output is EXACTLY the clean run's output
  * (same doc_id set, zero duplicates) — crash-replay invariance of
  * output AND both persisted dedup index layouts, end-to-end through
  * the real CurateMain config path. A final `compactAnyIndex` pass
  * over the replayed indexes plus an IncrementalAnn
  * create→append→replay→compact→search leg covers the third
  * persisted index at the same scale.
  *
  * Usage: sbt "runMain graft.CurationSoakMain /tmp/testdata/sf1 /tmp/curation-soak"
  * Prints one JSON line: phase timings, drain rate, funnel totals.
  */
object CurationSoakMain {

  private def cfg(in: String, out: String, vocab: String,
      fpIdx: String, bandIdx: String): String =
    s"""[input]
       |path = "$in"
       |stream = "true"
       |max-files-per-trigger = "1"
       |[[stages]]
       |type = "quality-filter"
       |min-score = 0.3
       |[[stages]]
       |type = "bpe-tokenize"
       |vocab-path = "$vocab"
       |output-column = "n_bpe_tokens"
       |[[stages]]
       |type = "dedup-exact"
       |index-dir = "$fpIdx"
       |[[stages]]
       |type = "dedup-near"
       |index-dir = "$bandIdx"
       |[output]
       |dir = "$out"
       |""".stripMargin

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/testdata/sf1")
    val work = args.lift(1).getOrElse("/tmp/curation-soak")
    val spark = GraftSession()
    import spark.implicits._

    def deleteRecursively(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(Files.deleteIfExists(_))
      }
    deleteRecursively(Paths.get(work))
    Files.createDirectories(Paths.get(work))
    val in = s"$work/in"

    // ---- prep: 8 shards landing incrementally + a trained vocab ----
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docs.count()
    def land(shards: Range): Unit = shards.foreach { i =>
      docs.filter(pmod(col("doc_id"), lit(8)) === i)
        .coalesce(1).write.mode("append").parquet(in)
    }
    val vocabPath = s"$work/vocab.parquet"
    graft.ops.BpeTrain.train(
      graft.ops.BpeTrain.wordCounts(docs, "text"), 500)
      .write.parquet(vocabPath)

    def runCfg(tag: String): (Long, Seq[(String, Long)], Double) = {
      val t0 = System.nanoTime()
      val (n, funnel) = CurateMain.run(spark,
        cfg(in, s"$work/$tag-out", vocabPath,
          s"$work/$tag-idx-fp", s"$work/$tag-idx-band"))
      (n, funnel, (System.nanoTime() - t0) / 1e9)
    }

    // ---- clean reference: all 8 shards, one incarnation ----
    land(0 until 8)
    val (_, refFunnel, refSecs) = runCfg("ref")
    val refIds = spark.read.parquet(s"$work/ref-out")
      .select($"doc_id").as[Long].collect().sorted

    // ---- soaked run: phased, crashed, torn, replayed ----
    // same shard FILES, landing incrementally in a separate input
    // dir with its own checkpoint/indexes/output
    val ckptCommits = Paths.get(s"$work/soak-out.checkpoint/commits")
    val soakIn = s"$work/soak-in"
    val shardFiles = Files.list(Paths.get(in)).iterator()
    val parts = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
    while (shardFiles.hasNext) {
      val p = shardFiles.next()
      if (p.getFileName.toString.endsWith(".parquet")) parts += p
    }
    val ordered = parts.sortBy(_.getFileName.toString)
    Files.createDirectories(Paths.get(soakIn))
    def landSoak(r: Range): Unit = r.foreach { i =>
      Files.copy(ordered(i), Paths.get(soakIn, f"shard-$i%02d.parquet"))
    }
    val soakCfg2 = cfg(soakIn, s"$work/soak-out", vocabPath,
      s"$work/soak-idx-fp", s"$work/soak-idx-band")

    landSoak(0 until 3)
    val t1 = System.nanoTime()
    val (n1, f1) = CurateMain.run(spark, soakCfg2)
    val phase1Secs = (System.nanoTime() - t1) / 1e9

    // phase 2: 5 more shards; stop the query after its FIRST new
    // commit (mid-run interrupt), then delete the newest commit
    // marker so the batch is torn (offset present, commit missing)
    landSoak(3 until 8)
    val commitsBefore =
      if (Files.exists(ckptCommits)) Files.list(ckptCommits).count() else 0L
    val stopper = new Thread(() => {
      var stopped = false
      val deadline = System.nanoTime() + 300L * 1000000000L
      while (!stopped && System.nanoTime() < deadline) {
        val now =
          if (Files.exists(ckptCommits)) Files.list(ckptCommits).count()
          else 0L
        if (now > commitsBefore) {
          spark.streams.active.foreach(_.stop())
          stopped = true
        } else Thread.sleep(50)
      }
    })
    stopper.start()
    try CurateMain.run(spark, soakCfg2)
    catch { case _: Throwable => () } // a stopped stream may surface as an exception
    stopper.join()
    // torn state: drop the newest commit marker (not the offsets)
    val newest = Files.list(ckptCommits).iterator()
    var maxCommit: java.nio.file.Path = null
    while (newest.hasNext) {
      val p = newest.next()
      val n = p.getFileName.toString
      if (n.forall(_.isDigit) &&
        (maxCommit == null ||
          n.toLong > maxCommit.getFileName.toString.toLong)) maxCommit = p
    }
    require(maxCommit != null, "no commits written before the stop")
    Files.delete(maxCommit)

    // phase 3: resume to completion (replays the torn batch), then a
    // no-new-files incarnation must admit zero rows
    val t3 = System.nanoTime()
    val (_, f3) = CurateMain.run(spark, soakCfg2)
    val phase3Secs = (System.nanoTime() - t3) / 1e9
    val (nReplay, _) = CurateMain.run(spark, soakCfg2)
    require(nReplay == 0L, s"no-new-files incarnation admitted $nReplay rows")

    // ---- the crux: crashed+torn+replayed ≡ clean ----
    val soakIds = spark.read.parquet(s"$work/soak-out")
      .select($"doc_id").as[Long].collect().sorted
    require(soakIds.length == soakIds.distinct.length,
      s"duplicate doc_ids in soaked output: ${soakIds.length} rows, " +
        s"${soakIds.distinct.length} distinct")
    require(java.util.Arrays.equals(soakIds, refIds),
      s"soaked output (${soakIds.length}) != clean reference " +
        s"(${refIds.length}) — crash/replay changed the admitted set")

    // index maintenance collapses any replay duplicates, loudly
    val fpKind = CurateMain.compactAnyIndex(spark, s"$work/soak-idx-fp")
    val bandKind = CurateMain.compactAnyIndex(spark, s"$work/soak-idx-band")

    // ---- IncrementalAnn leg at the same scale: create → append →
    // replayed append (at-least-once) → compact → search ----
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    val annDir = s"$work/ann-index"
    val tAnn = System.nanoTime()
    graft.ops.IncrementalAnn.create(spark, base, "embedding", "vec_id",
      annDir, nCells = 64)
    graft.ops.IncrementalAnn.appendBatch(spark, batch, "embedding",
      "vec_id", annDir)
    graft.ops.IncrementalAnn.appendBatch(spark, batch, "embedding",
      "vec_id", annDir) // at-least-once replay
    graft.ops.IncrementalAnn.compact(spark, annDir)
    val annSecs = (System.nanoTime() - tAnn) / 1e9
    val pairs = spark.read.parquet(s"$annDir/vectors")
      .groupBy(col("id"), col("cell")).count()
      .filter(col("count") > 1).count()
    require(pairs == 0L, s"compact left $pairs duplicated (id, cell) rows")
    val hits = graft.ops.IncrementalAnn.searchTopK(spark,
      emb.limit(100).select(col("vec_id"), col("embedding")),
      "embedding", "vec_id", annDir, k = 10, nProbe = 4).count()
    require(hits == 1000L, s"searchTopK returned $hits rows, wanted 1000")

    val funnel = f3.map { case (k, v) =>
      s""""$k":${f1.toMap.getOrElse(k, 0L) + v}""" }.mkString("{", ",", "}")
    // the clean single-incarnation drain is THE steady-state rate;
    // the phased timings carry restart overhead by design
    val rate = nDocs / refSecs
    println(
      s"""{"soak":"curation-sf1","docs":$nDocs,"admitted":${soakIds.length},""" +
        s""""ref_secs":${f"$refSecs%.1f"},"phase1_secs":${f"$phase1Secs%.1f"},""" +
        s""""phase3_secs":${f"$phase3Secs%.1f"},"rows_per_sec":${f"$rate%.0f"},""" +
        s""""ann_secs":${f"$annSecs%.1f"},"idx_kinds":"$fpKind/$bandKind",""" +
        s""""funnel_partial":$funnel,"ref_funnel":${refFunnel.map {
          case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}}""")
    spark.stop()
  }
}
