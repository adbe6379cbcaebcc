package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sink_lm — persistence for the reference perplexity model
  * (perplexity_filter's training product), the same "derive once,
  * probe forever" contract as sink_fingerprints: at 100 TB the
  * reference LM is trained ONCE and every later shard/stream is scored
  * against the frozen bundle — re-deriving the counts per ingest tick
  * would re-pay the reference-corpus scan every time (the exact
  * anti-pattern the fingerprint store closed for dedup).
  *
  * Bundle layout (all skinny, range-sharded on their join keys so a
  * large cluster's probe joins co-partition against contiguous files):
  *   bigrams/   (w1, w2, c12)  — bigram counts of the reference slice
  *   contexts/  (w1, c1)       — context totals (kept SEPARATE from
  *                               bigrams: an unseen bigram with a known
  *                               context must still find c1)
  *   vocab/     (w1)           — distinct reference tokens (v derives
  *                               from it, because a COUNT is not
  *                               append-mergeable but a distinct-token
  *                               frame is — the Fingerprints move)
  *   cuts/      (lang, cut_head, cut_mid) — the per-language mean-
  *               surprisal thresholds realizing the batch op's thirds;
  *               CCNet-style: computed once, applied as constants
  *
  * Store MAINTENANCE via [[append]] (the grow-the-reference loop):
  * counts are ADDITIVE, so a new accepted reference shard's partial
  * (w1,w2,c12)/(w1,c1)/vocab frames land as NEW files — history is
  * never read or rewritten — and every reader FOLDS: bigrams/contexts
  * sum per key, vocab distinct-counts (the consumers'-DISTINCT
  * contract Fingerprints uses, here a SUM-fold). The cuts are NOT
  * additive (they rank the scored corpus); [[refreshCuts]] recomputes
  * them on the caller's cadence — between refreshes a grown model
  * scores with slightly stale thresholds, the documented drift
  * (ann_upsert contract).
  */
object LmModel {

  /** Bundle format version (`_graft_format` marker, shared
    * [[StoreMaintenance]] scheme). Version history:
    *
    *   - 1 — counts derive from [[graft.operators.LangModel.refShifted]]
    *     tokenization (lowercased reference tokens, sentence-shifted
    *     bigrams with a null end-marker). A tokenizer change makes
    *     persisted counts incomparable with probe-time tokens: every
    *     unseen-bigram lookup silently falls to the smoothing floor
    *     and perplexity gates drift instead of failing — so readers
    *     and appenders refuse a mismatched bundle.
    */
  val FormatVersion = 1

  private val bundle = StoreMaintenance.Bundle("LM", FormatVersion,
    "refShifted tokenization of the persisted counts")

  private def writeFrames(all: DataFrame, path: String, nShards: Int,
      mode: String): Unit = {
    val zt = graft.operators.LangModel.refShifted(all)
    val pairs = zt.filter(col("w2").isNotNull)
    bundle.write(path, mode)(
      StoreMaintenance.Frame("bigrams",
        pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")),
        Seq("w1", "w2"), nShards),
      StoreMaintenance.Frame("contexts",
        pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1")),
        Seq("w1"), nShards),
      StoreMaintenance.Frame("vocab", zt.select(col("w1")).distinct(),
        Seq("w1"), nShards))
  }

  def write(all: DataFrame, path: String, nShards: Int = 2): Unit = {
    writeFrames(all, path, nShards, "overwrite")
    refreshCuts(all, path)
  }

  /** Append a new accepted reference shard's partial counts as new
    * files (history untouched); readers fold. Refresh the cuts on
    * your own cadence via [[refreshCuts]]. Refuses an old-format
    * bundle — appending new-tokenizer counts onto old-tokenizer
    * history would mix incomparable keys in one fold. */
  def append(shard: DataFrame, path: String, nShards: Int = 1): Unit =
    writeFrames(shard, path, nShards, "append")

  /** Recompute the per-language cut values from the current corpus —
    * the non-additive half of the bundle. The DEFAULT derivation is
    * the KLL-sketch path (`LangModel.langCutsSketch`): one mergeable
    * constant-size sketch per language, no per-language task-local
    * sort — at 100 TB a 90%-English corpus would put billions of rows
    * through the exact window's single task, the q31-rejected shape.
    * `exact = true` keeps the window for small reference corpora
    * where bit-reproducible cuts matter more than the skew bound.
    * Refuses a stale-format bundle: fresh cuts next to counts of
    * another tokenization would gate against incomparable scores.
    */
  def refreshCuts(all: DataFrame, path: String,
      exact: Boolean = false): Unit = {
    bundle.checkFormat(all.sparkSession, path)
    bundle.write(path, "overwrite")(
      StoreMaintenance.Frame("cuts",
        if (exact) graft.operators.LangModel.langCuts(all)
        else graft.operators.LangModel.langCutsSketch(all)))
  }

  /** Folded per-(w1, w2) counts — append-safe. */
  def readBigrams(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "bigrams")
      .groupBy(col("w1"), col("w2")).agg(sum(col("c12")).as("c12"))

  /** Folded per-context counts — append-safe. */
  def readContexts(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "contexts")
      .groupBy(col("w1")).agg(sum(col("c1")).as("c1"))

  /** Vocabulary size as a one-row frame — distinct across shards. */
  def readMeta(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "vocab")
      .agg(countDistinct(col("w1")).as("v"))

  def readCuts(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "cuts")

  /** Batch store-fed scoring: docs × the RELOADED bundle, per-doc
    * stats identical to in-line training (round-trip spec). */
  def scoreFrom(docs: DataFrame, path: String): DataFrame = {
    val s = docs.sparkSession
    graft.operators.LangModel.scoreAgainst(docs,
      readBigrams(s, path), readContexts(s, path), readMeta(s, path))
  }
}
