package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BmpFixture, BmpStats, BpeEncode, BpeMergeStep, BpeTokenCount, ByteAtU8, ByteStats, CharNgramsUtf8, ChunkHash60, DotProduct, DsirFeatureBuckets, DsirScore, FlacFixture, FlacMeta, GifFixture, GifStats, HtmlText, JpegFixture, JpegStats, JsonbDecode, LmScore2, LmScore3, Md5Hash60, MapChangedKeys, Mp3Fixture, Mp3Meta, Mp4Fixture, Mp4Meta, MultiMatch, MultiMatchAny, NbScore, NfcNormalize, PngFixture, PngStats, PpmStats, RollingHash, ShingleHash64, ShingleUtf8, Sum128, TarEntries, TarFixture, TiffFixture, TiffStats, TokenWindowHash64, TopKLargest, TopKPairs, WarcFixture, WarcRecords, WavRms}

/** SparkSessionExtensions entry point — the engine's custom Catalyst
  * surface (SURVEY §7.4). Enabled by the conf
  * `spark.sql.extensions=graft.GraftExtensions` ([[GraftSession]]
  * sets it) or `.withExtensions(new GraftExtensions)` — or, for a
  * session that already exists (a host application the library is
  * dropped into), [[GraftExtensions.ensure]] registers the same
  * functions imperatively and idempotently.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // window→aggregate compaction rewrite (SURVEY §7.4(c)):
    // row_number()=1 last-event-per-key becomes a max/min(struct)
    // hash aggregate — map-side partial agg, no per-partition sort
    e.injectOptimizerRule(_ => graft.plans.CompactionRewrite)
    // size(multi_match(...)) existence tests → early-exiting
    // multi_match_any (SURVEY §7.4(c) — the second rewrite where no
    // built-in rule recovers the cheaper operator)
    e.injectOptimizerRule(_ => graft.plans.MultiMatchAnyRewrite)
    // fail-loud analysis check for the Spark 4.1 LATERAL + LIMIT +
    // type-coerced-correlation wrong-results hazard (see
    // plans/LateralLimitGuard)
    e.injectCheckRule(_ => graft.plans.LateralLimitGuard)
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

object GraftExtensions {

  type FunctionDesc =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_], arity: Int,
      usage: String)(build: Seq[Expression] => Expression): FunctionDesc =
    (new FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity, s"$usage takes $arity argument(s)")
        build(exprs)
      })

  /** The engine's native function surface, shared by the
    * config-time extension path and the imperative [[ensure]]. */
  val functions: Seq[FunctionDesc] = Seq(
    fn("dot_product", classOf[DotProduct], 2, "dot_product(a, b)")(
      es => DotProduct(es.head, es(1))),
    fn("byte_at_u8", classOf[ByteAtU8], 2, "byte_at_u8(blob, pos)")(
      es => ByteAtU8(es.head, es(1))),
    fn("byte_stats", classOf[ByteStats], 1, "byte_stats(blob)")(
      es => ByteStats(es.head)),
    // return the RAW AggregateFunction (not toAggregateExpression):
    // the analyzer applies DISTINCT/FILTER clauses only on this form
    fn("sum128", classOf[Sum128], 1, "sum128(value)")(
      es => Sum128(es.head)),
    fn("jsonb_decode", classOf[JsonbDecode], 1, "jsonb_decode(blob)")(
      es => JsonbDecode(es.head)),
    fn("map_changed_keys", classOf[MapChangedKeys], 2,
      "map_changed_keys(before, after)")(
      es => MapChangedKeys(es.head, es(1))),
    fn("ppm_stats", classOf[PpmStats], 1, "ppm_stats(blob)")(
      es => PpmStats(es.head)),
    fn("wav_rms", classOf[WavRms], 1, "wav_rms(blob)")(
      es => WavRms(es.head)),
    fn("png_stats", classOf[PngStats], 1, "png_stats(blob)")(
      es => PngStats(es.head)),
    fn("png_fixture", classOf[PngFixture], 3, "png_fixture(id, w, h)")(
      es => PngFixture(es.head, es(1), es(2))),
    fn("html_text", classOf[HtmlText], 1, "html_text(html)")(
      es => HtmlText(es.head)),
    fn("tar_entries", classOf[TarEntries], 1, "tar_entries(blob)")(
      es => TarEntries(es.head)),
    fn("tar_fixture", classOf[TarFixture], 2, "tar_fixture(id, n_samples)")(
      es => TarFixture(es.head, es(1))),
    fn("warc_records", classOf[WarcRecords], 1, "warc_records(blob)")(
      es => WarcRecords(es.head)),
    fn("warc_fixture", classOf[WarcFixture], 2, "warc_fixture(id, n_pages)")(
      es => WarcFixture(es.head, es(1))),
    fn("flac_meta", classOf[FlacMeta], 1, "flac_meta(blob)")(
      es => FlacMeta(es.head)),
    fn("flac_fixture", classOf[FlacFixture], 1, "flac_fixture(id)")(
      es => FlacFixture(es.head)),
    fn("mp3_meta", classOf[Mp3Meta], 1, "mp3_meta(blob)")(
      es => Mp3Meta(es.head)),
    fn("mp3_fixture", classOf[Mp3Fixture], 2, "mp3_fixture(id, n_frames)")(
      es => Mp3Fixture(es.head, es(1))),
    fn("tiff_stats", classOf[TiffStats], 1, "tiff_stats(blob)")(
      es => TiffStats(es.head)),
    fn("tiff_fixture", classOf[TiffFixture], 3, "tiff_fixture(id, w, h)")(
      es => TiffFixture(es.head, es(1), es(2))),
    fn("bmp_stats", classOf[BmpStats], 1, "bmp_stats(blob)")(
      es => BmpStats(es.head)),
    fn("bmp_fixture", classOf[BmpFixture], 3, "bmp_fixture(id, w, h)")(
      es => BmpFixture(es.head, es(1), es(2))),
    fn("jpeg_stats", classOf[JpegStats], 1, "jpeg_stats(blob)")(
      es => JpegStats(es.head)),
    fn("jpeg_fixture", classOf[JpegFixture], 3, "jpeg_fixture(id, w, h)")(
      es => JpegFixture(es.head, es(1), es(2))),
    fn("gif_stats", classOf[GifStats], 1, "gif_stats(blob)")(
      es => GifStats(es.head)),
    fn("gif_fixture", classOf[GifFixture], 3, "gif_fixture(id, w, h)")(
      es => GifFixture(es.head, es(1), es(2))),
    fn("mp4_meta", classOf[Mp4Meta], 1, "mp4_meta(blob)")(
      es => Mp4Meta(es.head)),
    fn("mp4_fixture", classOf[Mp4Fixture], 4,
      "mp4_fixture(id, w, h, n_frames)")(
      es => Mp4Fixture(es.head, es(1), es(2), es(3))),
    fn("topk_largest", classOf[TopKLargest], 2, "topk_largest(value, k)")(
      es => TopKLargest(es.head, es(1))),
    fn("rolling_hash", classOf[RollingHash], 1, "rolling_hash(s)")(
      es => RollingHash(es.head)),
    fn("multi_match", classOf[MultiMatch], 2, "multi_match(text, patterns)")(
      es => MultiMatch(es.head, es(1))),
    fn("multi_match_any", classOf[MultiMatchAny], 2,
      "multi_match_any(text, patterns)")(
      es => MultiMatchAny(es.head, es(1))),
    fn("topk_pairs", classOf[TopKPairs], 3, "topk_pairs(score, id, k)")(
      es => TopKPairs(es.head, es(1), es(2))),
    fn("nfc_normalize", classOf[NfcNormalize], 1, "nfc_normalize(s)")(
      es => NfcNormalize(es.head)),
    fn("shingle_hash64", classOf[ShingleHash64], 2,
      "shingle_hash64(text, n)")(
      es => ShingleHash64(es.head, es(1))),
    fn("dsir_feature_buckets", classOf[DsirFeatureBuckets], 2,
      "dsir_feature_buckets(toks, buckets)")(
      es => DsirFeatureBuckets(es.head, es(1))),
    fn("token_window_hash64", classOf[TokenWindowHash64], 2,
      "token_window_hash64(text, width)")(
      es => TokenWindowHash64(es.head, es(1))),
    fn("chunk_hash60", classOf[ChunkHash60], 3,
      "chunk_hash60(text, width, stride)")(
      es => ChunkHash60(es.head, es(1), es(2))),
    fn("shingle_utf8", classOf[ShingleUtf8], 3,
      "shingle_utf8(text, n, stride)")(
      es => ShingleUtf8(es.head, es(1), es(2))),
    fn("char_ngrams_utf8", classOf[CharNgramsUtf8], 2,
      "char_ngrams_utf8(text, n)")(
      es => CharNgramsUtf8(es.head, es(1))),
    fn("bpe_encode", classOf[BpeEncode], 3,
      "bpe_encode(word, lefts, rights)")(
      es => BpeEncode(es.head, es(1), es(2))),
    fn("bpe_merge_pair", classOf[BpeMergeStep], 3,
      "bpe_merge_pair(syms, l, r)")(
      es => BpeMergeStep(es.head, es(1), es(2))),
    fn("bpe_token_count", classOf[BpeTokenCount], 3,
      "bpe_token_count(text, lefts, rights)")(
      es => BpeTokenCount(es.head, es(1), es(2))),
    fn("md5_hash60", classOf[Md5Hash60], 1, "md5_hash60(s)")(
      es => Md5Hash60(es.head)),
    fn("lm_score2", classOf[LmScore2], 4,
      "lm_score2(text, keys, counts, alpha)")(
      es => LmScore2(es.head, es(1), es(2), es(3))),
    fn("lm_score3", classOf[LmScore3], 4,
      "lm_score3(text, keys, counts, alpha)")(
      es => LmScore3(es.head, es(1), es(2), es(3))),
    fn("nb_score", classOf[NbScore], 4,
      "nb_score(text, keys, ratios, params)")(
      es => NbScore(es.head, es(1), es(2), es(3))),
    fn("dsir_score", classOf[DsirScore], 3,
      "dsir_score(text, ratios, prefix)")(
      es => DsirScore(es.head, es(1), es(2))))

  /** Idempotently register the native functions on an EXISTING
    * session — the path for host applications whose SparkSession was
    * built without `spark.sql.extensions` (config-time extensions
    * cannot be added after the fact). The optimizer rule is a pure
    * optimization (the window compaction form still answers
    * correctly without it), so function coverage alone keeps every
    * query runnable. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident)) {
        registry.registerFunction(ident, info, builder)
      }
    }
  }
}
