package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Runbook main for the MODEL-FILTER serve shape (the r12 theme):
  * trains and COMMITS the nb/lm/dsir filter models once (ModelStore
  * lifecycle, `--retrain` against an empty landing dir so nothing
  * drains), then measures a streaming serve drain of a corpus
  * through all three filters — every batch scoring scan-stage
  * against the broadcast compiled models (nb ratio table,
  * per-language LM bank with learned per-language cutoffs, dense
  * DSIR array), no per-batch training, no per-batch broadcast.
  * Prints one JSON line (the Bench contract).
  *
  *   sbt "runMain graft.ModelFilterSoakMain \
  *     [sfDir] [word|char] [shards] [filesPerTrigger]"
  *   # default sf1z, word, 16, 4 — char measures the
  *   # space-free-script serve shape: same kernels, ~5x denser token
  *   # stream. `shards` is the landing-dir file count,
  *   # `filesPerTrigger` the arrival unit per micro-batch; together
  *   # they set the batch count, letting cross-sf serve comparisons
  *   # separate per-batch overhead from per-doc compute (shards ==
  *   # filesPerTrigger drains in ONE batch — the batch-mode limit;
  *   # the r14 SCALE.md char row uses both points).
  */
object ModelFilterSoakMain {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/testdata/sf1z")
    val tok = args.lift(1).getOrElse("word")
    val shards = args.lift(2).map(_.toInt).getOrElse(16)
    val perTrigger = args.lift(3).map(_.toInt).getOrElse(4)
    require(tok == "word" || tok == "char", s"bad tokenizer $tok")
    require(shards > 0, s"bad shard count $shards")
    require(perTrigger > 0, s"bad files-per-trigger $perTrigger")
    val tokLines = if (tok == "char")
      "tokenizer = \"char\"\nchar-n = 5\n" else ""
    val root = Files.createTempDirectory("model-serve-soak").toString

    val spark = GraftSession()
    try {
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val nDocs = docs.count()

      // seed corpora (bounded, deterministic): labeled quality seed,
      // DSIR target (en) + raw
      val seed = docs.orderBy(col("doc_id")).limit(20000)
      seed.withColumn("label",
        when(col("lang") === "en", lit("good")).otherwise(lit("bad")))
        .write.parquet(s"$root/seed")
      seed.filter(col("lang") === "en").write.parquet(s"$root/target")
      seed.write.parquet(s"$root/raw")

      // landing dir: the corpus as `shards` files (one file = one
      // unit of arrival for the stream)
      docs.repartition(shards).write.parquet(s"$root/in")

      def config(in: String) =
        s"""[input]
           |path = "$in"
           |format = "parquet"
           |stream = "true"
           |max-files-per-trigger = "$perTrigger"
           |checkpoint = "$root/ckpt-${in.hashCode.abs}"
           |[[stages]]
           |type = "nb-filter"
           |ref-path = "$root/seed"
           |pos-label = "good"
           |min-score = 0.5
           |${tokLines}model-dir = "$root/m-nb"
           |[[stages]]
           |type = "lm-filter"
           |ref-path = "$root/seed"
           |lang-column = "lang"
           |min-quantile = 0.1
           |${tokLines}model-dir = "$root/m-lm"
           |[[stages]]
           |type = "dsir-filter"
           |target-path = "$root/target"
           |raw-path = "$root/raw"
           |buckets = 65536
           |min-weight = 0.5
           |${tokLines}model-dir = "$root/m-dsir"
           |[output]
           |dir = "$root/out-${in.hashCode.abs}"
           |""".stripMargin

      // TRAIN + COMMIT against a zero-row landing dir (schema only):
      // assembly trains and persists all three models; the stream
      // drains nothing but the empty file
      val empty = s"$root/empty"
      docs.limit(0).write.parquet(empty)
      val t0 = System.nanoTime()
      CurateMain.run(spark, config(empty), retrain = true)
      val trainS = (System.nanoTime() - t0) / 1e9

      // SERVE: committed models only (ref corpora are read no more),
      // every micro-batch scores scan-stage
      val t1 = System.nanoTime()
      val (kept, funnel) = CurateMain.run(spark, config(s"$root/in"))
      val serveS = (System.nanoTime() - t1) / 1e9

      val funnelJson = funnel.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      println(
        s"""{"docs":$nDocs,"tokenizer":"$tok","shards":$shards,""" +
          s""""per_trigger":$perTrigger,"kept":$kept,""" +
          f""""train_commit_s":$trainS%.1f,"serve_drain_s":$serveS%.1f,""" +
          f""""docs_per_s":${nDocs / serveS}%.0f,""" +
          s""""funnel":$funnelJson}""")
    } finally spark.stop()
  }
}
