package graft

import java.nio.file.{Files, Paths}

/** Runbook main for the Common Crawl ingestion shape at realistic
  * volume: generates a GB-scale dir of `.warc.gz` shards (per-record
  * gzip members, low-compressibility pseudo-text — see
  * [[graft.functions.WarcFixture.buildSized]]), optionally plants ONE
  * hostile shard (a gzip bomb past the 256 MB inflate guard plus a
  * malformed non-WARC file), then measures the STREAMING drain
  * through CurateMain's warc file-stream path (AvailableNow,
  * maxFilesPerTrigger-bounded micro-batches, idempotent
  * `__ingest_batch` output partitions). Prints one JSON line (the
  * Bench contract).
  *
  *   sbt "runMain graft.WarcSoakMain [nShards pagesPerShard payloadBytes]"
  *
  * Defaults (64 × 2000 × 16 KiB) build ≈1.2 GB of .warc.gz holding
  * ≈2.1 GB of records. The hostile shard must contribute ZERO rows
  * and must not kill the stream — the bomb guard's contract, pinned
  * small-scale in CurationSpec's hostile-shard stream test and
  * verified here at volume (`docs` must equal nShards × pages).
  */
object WarcSoakMain {

  def main(args: Array[String]): Unit = {
    val nShards = args.lift(0).map(_.toInt).getOrElse(64)
    val pages = args.lift(1).map(_.toInt).getOrElse(2000)
    val payload = args.lift(2).map(_.toInt).getOrElse(16384)
    val hostile = !args.contains("--no-hostile")

    val root = Files.createTempDirectory("warc-soak").toString
    val in = s"$root/shards"
    Files.createDirectories(Paths.get(in))

    // generation (deterministic; not part of the timed drain)
    var gzBytes = 0L
    var rawBytes = 0L
    val t0 = System.nanoTime()
    var s = 0
    while (s < nShards) {
      val shard = graft.functions.WarcFixture.buildSized(
        s.toLong, pages, payload, gzip = true)
      gzBytes += shard.length
      rawBytes += pages.toLong * (payload + 192)
      Files.write(Paths.get(in, f"shard-$s%05d.warc.gz"), shard)
      s += 1
    }
    if (hostile) {
      // inflates past the guard: dropped as unparseable, never buffered
      Files.write(Paths.get(in, "hostile-bomb.warc.gz"),
        graft.functions.WarcFixture.gzipBomb(300L * 1024 * 1024))
      Files.write(Paths.get(in, "hostile-garbage.warc"),
        "this is not a WARC shard\r\n".getBytes("UTF-8"))
    }
    val genS = (System.nanoTime() - t0) / 1e9

    val spark = GraftSession()
    try {
      val config =
        s"""[input]
           |path = "$in"
           |format = "warc"
           |stream = "true"
           |max-files-per-trigger = "8"
           |checkpoint = "$root/ckpt"
           |[[stages]]
           |type = "length-filter"
           |min-tokens = 1
           |[output]
           |dir = "$root/out"
           |""".stripMargin
      val t1 = System.nanoTime()
      val (docs, _) = CurateMain.run(spark, config)
      val drainS = (System.nanoTime() - t1) / 1e9
      val expected = nShards.toLong * pages
      println(
        s"""{"shards":$nShards,"gz_bytes":$gzBytes,""" +
          s""""raw_bytes":$rawBytes,""" +
          f""""gen_s":$genS%.1f,"drain_s":$drainS%.1f,""" +
          s""""docs":$docs,"expected_docs":$expected,""" +
          s""""hostile_planted":$hostile,""" +
          s""""hostile_rows":${docs - expected},""" +
          f""""gz_mb_per_s":${gzBytes / 1e6 / drainS}%.1f,""" +
          f""""raw_mb_per_s":${rawBytes / 1e6 / drainS}%.1f}""")
    } finally spark.stop()
  }
}
