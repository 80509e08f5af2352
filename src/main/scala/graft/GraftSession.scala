package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every main and the test
  * suite get the same engine configuration from here.
  *
  * Each setting is a DEFAULT. A key the launcher already set —
  * spark-submit's `--master`/`--conf`, or a `-Dspark.*` system
  * property (`JAVA_TOOL_OPTIONS`, sbt `javaOptions`) — keeps the
  * launcher's value, and one `config:` line on stderr names every key
  * whose effective value differs from its default. A paired A/B is
  * therefore a launcher flag, never an edit, and a run can never mix
  * configurations silently:
  * {{{
  * JAVA_TOOL_OPTIONS=-Dspark.sql.optimizer.excludedRules= \
  *   sbt "runMain graft.BenchOne ann_ivfpq_topk"
  * }}}
  */
object GraftSession {

  /** The defaults of a session on `cpus` local cores. */
  def defaults(cpus: String): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    // the oracle parity rules assume UTC (timestamp_ntz casts, year())
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // events.ts has changed parquet encoding between data drops: should
    // it flip back to TIMESTAMP(NANOS), this reads it as Long ns
    // instead of failing (Tables.normalizeTsNs handles both forms)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // InferFiltersFromGenerate + filter pushdown re-evaluates the
    // GENERATOR expression inside the scan filter: every explode-based
    // training featurize (char_ngrams_utf8, dsir_feature_buckets,
    // transition pairs) ran twice per row (plan excerpt in
    // OPTIMIZATION_r14.md). The inferred size()>0 filter only saves
    // empty-row Generate machinery here (explodes sit directly on
    // scans), so it is a strict loss at any scale for expensive
    // generators.
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.ui.enabled" -> "false")

  /** Defaults of the spark-submit CLIs (`graft.Main`,
    * `graft.CurateMain`) when launched without a master: every local
    * core, and the 32 shuffle partitions the daemon has always run. */
  val cli: Seq[(String, String)] = Seq(
    "spark.master" -> "local[*]",
    "spark.sql.shuffle.partitions" -> "32")

  /** The defaults to set on top of `launched` (only keys it lacks),
    * and the `config:` line when a launcher value differs from its
    * default. Pure, so the precedence is testable without a session. */
  def settings(launched: SparkConf, defaults: Map[String, String]):
      (Map[String, String], Option[String]) = {
    val (kept, missing) = defaults.partition { case (k, _) =>
      launched.contains(k) }
    val differing = kept.toSeq.sortBy(_._1).collect {
      case (k, d) if launched.get(k) != d =>
        s"$k=${launched.get(k)} (default $d)"
    }
    (missing, Option.when(differing.nonEmpty)(
      differing.mkString("config: ", ", ", "")))
  }

  /** The session, on `cpus` local cores (`$SPARK_GRAFT_CPUS`, default
    * 4) unless the launcher says otherwise. `extra` adds or replaces
    * defaults; a caller passes one only where it has a reason. */
  def apply(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val (toSet, line) = settings(new SparkConf(), defaults(cpus) ++ extra)
    line.foreach(System.err.println)
    val spark = SparkSession.builder().config(toSet).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
