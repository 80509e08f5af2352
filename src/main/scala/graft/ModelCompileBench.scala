package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.{Dsir, LangModel, NbClassifier}

/** Measures the compiled-model serve path at a REALISTIC vocabulary
  * (the zipf50k corpora): model-table row counts, compile (train +
  * collect) wall time, broadcast-value size, and the serialized size
  * of the scoring EXPRESSION under both transports — the numbers
  * behind the r12 broadcast-transport fix and the sparse-regime
  * SCALE.md rows. Prints one JSON line, the Bench contract.
  *
  *   sbt "runMain graft.ModelCompileBench /tmp/testdata/sf1z"
  */
object ModelCompileBench {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def javaSize(o: AnyRef): Long = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.size().toLong
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    try {
      val dir = args(0)
      val docs = Tables.load(spark, dir, "documents")
      val toks = TextFunctions.tokens(col("text"))

      // LM: train + compile the bigram+trigram model, then broadcast
      val uni = LangModel.unigrams(docs, toks)
      val big = LangModel.bigrams(docs, toks, 2)
      val tri = LangModel.trigrams(docs, toks, 2)
      val (lmModel, lmCompileS) = timed(
        LangModel.compileModel(uni, big, Some(tri)))
      val (lmBc, lmBcS) = timed(
        LangModel.broadcastModel(spark, lmModel))
      val lmValueBytes =
        org.apache.spark.util.SizeEstimator.estimate(lmBc.value)
      // transport comparison: the scoring expression's serialized
      // size (what every task binary carries) under each transport
      val lmBcExpr = graft.functions.LmScore3Bc(
        org.apache.spark.sql.graftbridge.GraftColumnBridge
          .expression(col("text")), lmBc)
      val lmLitExpr = org.apache.spark.sql.graftbridge.GraftColumnBridge
        .expression(call_function("lm_score3", col("text"),
          typedLit(lmModel._1.toSeq), typedLit(lmModel._2.toSeq),
          lit(0.4)))

      // NB: en-vs-rest binary model at the same vocabulary
      val lab = when(col("lang") === "en", lit("pos")).otherwise(lit("neg"))
      val counts = NbClassifier.trainCounts(docs, toks, lab, 2)
      val priors = NbClassifier.docPriors(docs, lab)
      val (nbModel, nbCompileS) = timed(
        NbClassifier.compileBinary(counts, priors, "pos"))
      val (nbBc, _) = timed(
        NbClassifier.broadcastBinary(spark, nbModel))
      val nbValueBytes =
        org.apache.spark.util.SizeEstimator.estimate(nbBc.value)

      // DSIR: dense 2^16-bucket array (the fixed-size model)
      val dsirSplit = Dsir.bucketCountsSplit(docs, "text",
        col("lang") === "en", 65536)
      val (dsirArr, dsirCompileS) = timed(Dsir.compileSplit(dsirSplit, 65536))

      // n-gram order split of the compiled keys (space count = order-1)
      val orders = lmModel._1.map(_.count(_ == ' '))
      val uniRows = orders.count(_ == 0)
      val bigRows = orders.count(_ == 1)
      val triRows = orders.count(_ == 2)

      println(
        s"""{"dir":"${dir.replace("\"", "")}",""" +
          s""""lm_uni_rows":$uniRows,"lm_big_rows":$bigRows,""" +
          s""""lm_tri_rows":$triRows,""" +
          f""""lm_compile_s":$lmCompileS%.2f,"lm_broadcast_s":$lmBcS%.2f,""" +
          s""""lm_value_bytes":$lmValueBytes,""" +
          s""""lm_bc_expr_bytes":${javaSize(lmBcExpr)},""" +
          s""""lm_literal_expr_bytes":${javaSize(lmLitExpr)},""" +
          s""""nb_rows":${nbModel._1.length},""" +
          f""""nb_compile_s":$nbCompileS%.2f,""" +
          s""""nb_value_bytes":$nbValueBytes,""" +
          s""""dsir_buckets":${dsirArr.length},""" +
          f""""dsir_compile_s":$dsirCompileS%.2f}""")
    } finally spark.stop()
  }
}
