package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sink_dsir — persistence for the DSIR importance model
  * (dsir_select's training product), the sink_lm "derive once, probe
  * forever" contract: at 100 TB the target/raw unigram counts are
  * derived ONCE and every later shard/stream is weighted against the
  * frozen bundle — re-counting both corpora per ingest tick would
  * re-pay the full-corpus token scan every time.
  *
  * Bundle layout (skinny, range-sharded on the join key so a large
  * cluster's probe joins co-partition against contiguous files):
  *   vocab/  (tok, ct, cr) — unigram counts, target and raw side
  *   cut/    (cut)         — the selection threshold (the KLL
  *           90th-percentile weight; non-additive — it ranks the
  *           scored corpus — so [[refreshCut]] recomputes it on the
  *           caller's cadence, the LmModel refreshCuts contract)
  *
  * Totals (nt, nr, v) DERIVE from vocab/ by folding, because a count
  * is not append-mergeable but the count frame is (the LmModel vocab
  * move) — so [[append]] lands a new shard's partial counts as new
  * files, history is never read or rewritten, and every reader
  * sum-folds per token.
  */
object DsirStore {

  /** Bundle format version (`_graft_format` marker, shared
    * [[StoreMaintenance]] scheme). Version history:
    *
    *   - 1 — whitespace tokenization (TextFns.tokens) with
    *     whole-bit integer LLR weights at S = 2^40
    *     (operators.Dsir.DsirScale). A tokenizer or scale change
    *     makes persisted counts incomparable with probe-time tokens:
    *     every lookup silently falls to the smoothing floor and the
    *     selection gate drifts instead of failing — so readers and
    *     appenders refuse a mismatched bundle.
    */
  val FormatVersion = 1

  private val bundle = StoreMaintenance.Bundle("DSIR", FormatVersion,
    "tokenization/scale of the persisted counts")

  private def writeFrames(all: DataFrame, path: String, nShards: Int,
      mode: String): Unit =
    bundle.write(path, mode)(StoreMaintenance.Frame("vocab",
      graft.operators.Dsir.vocabCounts(graft.operators.Dsir.tokenized(all)),
      Seq("tok"), nShards))

  def write(all: DataFrame, path: String, nShards: Int = 2): Unit = {
    writeFrames(all, path, nShards, "overwrite")
    refreshCut(all, path)
  }

  /** Append a new shard's partial counts as new files (history
    * untouched); readers fold. Refresh the cut on your own cadence
    * via [[refreshCut]]. Refuses an old-format bundle — appending
    * new-tokenizer counts onto old-tokenizer history would mix
    * incomparable keys in one fold. */
  def append(shard: DataFrame, path: String, nShards: Int = 1): Unit =
    writeFrames(shard, path, nShards, "append")

  /** Recompute the selection cut from the current corpus — the
    * non-additive half of the bundle (KLL sketch derivation, the
    * dsir_select_sketch shape: no global window). Scores `all` against
    * the PERSISTED bundle rather than re-deriving the model inline —
    * that keeps [[write]] to ONE token-count scan of the corpus (the
    * skinny vocab parquet is far cheaper to read back than the corpus
    * is to re-tokenize-and-count) and makes the cut consistent with
    * the weights [[weightsFrom]] will actually serve. Between
    * refreshes a grown model gates with a slightly stale threshold —
    * the documented sink_lm-cuts / ann_upsert drift contract. Refuses
    * a stale-format bundle like every other reader and appender (a
    * fresh cut next to incomparable vocab history must fail loudly);
    * a bundle that does not exist yet passes the check but fails the
    * vocab read — build it with [[write]] first. */
  def refreshCut(all: DataFrame, path: String): Unit =
    bundle.write(path, "overwrite")(StoreMaintenance.Frame(
      "cut", graft.operators.Dsir.sketchCut(weightsFrom(all, path))))

  /** Folded per-token counts — append-safe. */
  def readVocab(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "vocab")
      .groupBy(col("tok"))
      .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))

  /** 1-row totals (nt, nr, v) folded from the vocab shards. */
  def readTotals(spark: SparkSession, path: String): DataFrame =
    graft.operators.Dsir.totals(readVocab(spark, path))

  def readCut(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "cut")

  /** Batch store-fed weighting: docs × the RELOADED bundle, per-doc
    * (doc_id, n_toks, llr_bits) identical to inline derivation when
    * the bundle was built from the same corpus (round-trip spec).
    * Serve-time tokens the model never saw take the smoothing floor
    * (Dsir.scoreAgainst's LEFT join). */
  def weightsFrom(docs: DataFrame, path: String): DataFrame = {
    val s = docs.sparkSession
    graft.operators.Dsir.scoreAgainst(
      graft.operators.Dsir.tokenized(docs).filter(!col("tgt")),
      readVocab(s, path), readTotals(s, path))
  }
}
