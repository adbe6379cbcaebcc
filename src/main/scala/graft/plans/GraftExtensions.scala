package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData

/** Installs graft's native surface on a session: every kernel in
  * [[GraftFunctions.all]], the top-k planner strategy and the filter
  * pushdown through it. Every session graft builds
  * ([[graft.Bench.buildSession]]) sets
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectOptimizerRule(_ => PushFilterThroughTopK)
  }
}

object GraftFunctions {
  type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  // kernel parameters arrive as foldable literals and are baked into
  // the expression at build time
  private def int(e: Expression): Int = e.eval().asInstanceOf[Int]
  private def array(e: Expression): ArrayData = e.eval().asInstanceOf[ArrayData]
  private def strings(e: Expression): Seq[String] = {
    val arr = array(e)
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
  }
  private def floats(e: Expression): Seq[Float] = array(e).toFloatArray().toSeq

  // `graft_<family>_agg(x[, param])` folds raw values, `_merge(bin[,
  // param])` folds serialized sketches; the SQL name fixes which
  private def sketchAgg[B](name: String, family: SketchFamily[B], default: Int,
      merging: Boolean): Descriptor =
    fn(name, classOf[SketchAggExpr[_]])(e =>
      SketchAggExpr(e.head, family, if (e.length > 1) int(e(1)) else default, merging)
        .toAggregateExpression())

  /** The one kernel list: a new kernel is one descriptor here. */
  val all: Seq[Descriptor] = Seq(
    fn("graft_nfc", classOf[NfcNormalizeExpr])(e => NfcNormalizeExpr(e.head)),
    fn("graft_cosine", classOf[CosineSimilarity])(e =>
      CosineSimilarity(e.head, e(1))),
    fn("graft_cosine_i8", classOf[CosineSimilarity])(e =>
      CosineSimilarity(e.head, e(1))),
    fn("graft_lcs", classOf[LcsLength])(e => LcsLength(e.head, e(1))),
    fn("graft_stem", classOf[StemTokens])(e => StemTokens(e.head)),
    fn("graft_lsh_keys", classOf[LshBandKeys])(e =>
      LshBandKeys(e.head, int(e(1)), int(e(2)), int(e(3)))),
    fn("graft_simhash", classOf[SimhashExpr])(e => SimhashExpr(e.head)),
    fn("graft_minhash_sig", classOf[MinhashSigExpr])(e =>
      MinhashSigExpr(e.head)),
    fn("graft_minhash_bands", classOf[MinhashBandsExpr])(e =>
      MinhashBandsExpr(e.head)),
    fn("graft_minhash_all", classOf[MinhashAllExpr])(e =>
      MinhashAllExpr(e.head)),
    fn("graft_normalize", classOf[NormalizeTextExpr])(e =>
      NormalizeTextExpr(e.head)),
    fn("graft_shingle_set", classOf[ShingleSetExpr])(e =>
      ShingleSetExpr(e.head)),
    fn("graft_bleu_counts", classOf[BleuCountsExpr])(e =>
      BleuCountsExpr(e.head, e(1))),
    fn("graft_bleu_smooth", classOf[BleuSmoothExpr])(e =>
      BleuSmoothExpr(e.head)),
    // Spark's OWN runtime-filter bloom machinery (BloomFilterAggregate /
    // BloomFilterMightContain) surfaced as callable functions — the
    // engine ships the constant-size sketch + membership probe but only
    // wires them into its internal join-filter rule; the ingest_bloom
    // pre-gate calls them directly. 1-arg agg form uses the session's
    // runtime-filter size defaults; the 3-arg form pins (items, bits).
    fn("graft_bloom_agg", classOf[BloomFilterAggregate])(e => e.size match {
      case 1 => new BloomFilterAggregate(e.head)
      case 2 => new BloomFilterAggregate(e.head, e(1))
      case _ => new BloomFilterAggregate(e.head, e(1), e(2))
    }),
    fn("graft_bloom_contains", classOf[BloomFilterMightContain])(e =>
      BloomFilterMightContain(e.head, e(1))),
    fn("graft_bpe", classOf[BpeEncodeExpr])(e =>
      BpeEncodeExpr(e.head, strings(e(1)))),
    fn("graft_unigram", classOf[UnigramSegmentExpr])(e =>
      UnigramSegmentExpr(e.head, strings(e(1)), array(e(2)).toDoubleArray().toSeq)),
    fn("graft_pq_encode", classOf[PqEncodeExpr])(e =>
      PqEncodeExpr(e.head, floats(e(1)), int(e(2)), int(e(3)))),
    fn("graft_pq_cos", classOf[PqCosineExpr])(e =>
      PqCosineExpr(e.head, e(1), floats(e(2)), int(e(3)), int(e(4)))),
    fn("graft_pq_table", classOf[PqTableExpr])(e =>
      PqTableExpr(e.head, floats(e(1)), int(e(2)), int(e(3)))),
    fn("graft_pq_cos_t", classOf[PqCosineTableExpr])(e =>
      PqCosineTableExpr(e.head, e(1), floats(e(2)), int(e(3)), int(e(4)))),
    fn("graft_deflate_len", classOf[DeflateLenExpr])(e =>
      DeflateLenExpr(e.head)),
    fn("graft_f1_common", classOf[TokenOverlap])(e =>
      TokenOverlap(e.head, e(1))),
    fn("graft_media_meta", classOf[MediaMetaExpr])(e => MediaMetaExpr(e.head)),
    fn("graft_phrase_hits", classOf[PhraseHitsExpr])(e =>
      PhraseHitsExpr(e.head, strings(e(1)))),
    fn("graft_dhash", classOf[DHashExpr])(e => DHashExpr(e.head)),
    fn("graft_ahash", classOf[AudioHashExpr])(e => AudioHashExpr(e.head)),
    fn("graft_span_corrupt", classOf[SpanCorruptExpr])(e =>
      SpanCorruptExpr(e.head, e(1))),
    fn("graft_gopher_rep", classOf[GopherRepetition])(e =>
      GopherRepetition(e.head, e(1))),
    fn("graft_top_ngram_count", classOf[TopGramCount])(e =>
      TopGramCount(e.head, e(1))),
    fn("graft_luma_resize", classOf[LumaResizeExpr])(e =>
      LumaResizeExpr(e.head, e(1), e(2))),
    sketchAgg("graft_kll_agg", KllQuantiles, KllQuantiles.DefaultK, merging = false),
    sketchAgg("graft_kll_merge", KllQuantiles, KllQuantiles.DefaultK, merging = true),
    fn("graft_kll_quantile", classOf[KllReadExpr])(e =>
      KllReadExpr(e.head, e(1), rank = false)),
    fn("graft_kll_rank", classOf[KllReadExpr])(e =>
      KllReadExpr(e.head, e(1), rank = true)),
    sketchAgg("graft_freq_agg", FreqItems, FreqItems.DefaultMapSize, merging = false),
    sketchAgg("graft_freq_merge", FreqItems, FreqItems.DefaultMapSize, merging = true),
    fn("graft_freq_topk", classOf[FreqTopKExpr])(e =>
      FreqTopKExpr(e.head, e(1))),
    fn("graft_freq_maxerr", classOf[FreqMaxErrExpr])(e =>
      FreqMaxErrExpr(e.head)),
    fn("graft_hash_embed", classOf[HashEmbedExpr])(e => HashEmbedExpr(e.head)),
    sketchAgg("graft_theta_agg", ThetaSketch, ThetaSketch.DefaultLgK, merging = false),
    sketchAgg("graft_theta_merge", ThetaSketch, ThetaSketch.DefaultLgK, merging = true),
    fn("graft_theta_est", classOf[ThetaEstExpr])(e => ThetaEstExpr(e.head)),
    fn("graft_theta_inter_est", classOf[ThetaPairEstExpr])(e =>
      ThetaPairEstExpr(e.head, e(1), union = false)),
    fn("graft_theta_union_est", classOf[ThetaPairEstExpr])(e =>
      ThetaPairEstExpr(e.head, e(1), union = true)),
    sketchAgg("graft_cms_agg", CountMin, CountMin.DefaultWidth, merging = false),
    sketchAgg("graft_cms_merge", CountMin, CountMin.DefaultWidth, merging = true),
    fn("graft_cms_est", classOf[CmsEstExpr])(e => CmsEstExpr(e.head, e(1))),
    fn("graft_cms_total", classOf[CmsTotalExpr])(e => CmsTotalExpr(e.head)))

  /** Installs [[all]] on `spark`. Sessions from
    * [[graft.Bench.buildSession]] already carry every kernel through
    * [[GraftExtensions]]; this stays only because the benchmark harness
    * under `perfbench/` calls it on its session, and that harness is
    * versioned with the benchmark, not with graft.
    */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}
