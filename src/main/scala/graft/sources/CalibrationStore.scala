package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** sink_calibration — persistence for the per-source score-calibration
  * model (score_calibrate_sketch's product): one constant-size KLL
  * sketch of the quality-score distribution per source, plus the doc
  * count. The "derive once, probe forever" contract of sink_lm /
  * sink_classifier: at 100 TB the score distributions are profiled
  * ONCE per curation epoch and every later shard/stream maps scores to
  * percentiles against the FROZEN sketches — re-profiling per ingest
  * tick would re-pay the corpus scan and, worse, make the percentile
  * of a fixed score drift batch to batch, so the same doc could pass
  * today and fail tomorrow with no code change.
  *
  * The bundle is TRANSPARENT at the frame level — (source, sk, n),
  * exactly the model frame the serving kernel broadcasts — and the
  * sketches are ADDITIVE: a new shard's per-source sketches fold into
  * the standing ones via `graft_kll_merge` (the KLL merge guarantee),
  * so extending the profile never re-reads profiled history.
  * Percentile drift between refreshes is the documented frozen-model
  * contract (sink_lm's cuts, sink_dsir's cut/).
  */
object CalibrationStore {

  /** Bundle format version (`_graft_format` marker, shared
    * [[StoreMaintenance]] scheme). Version history:
    *
    *   - 1 — KLL doubles sketches (k = 200) over the lexical-diversity
    *     score in integer ppm (distinct whitespace tokens · 10^6 DIV
    *     tokens). A change to the score definition, tokenizer, or ppm
    *     scale leaves sketches that still answer rank queries — for
    *     the WRONG distribution, silently shifting every percentile;
    *     the marker turns that into a loud refusal.
    */
  val FormatVersion = 1

  private val bundle = StoreMaintenance.Bundle("calibration", FormatVersion,
    "KLL(k=200) sketches over the lexical-diversity score in integer " +
      "ppm, whitespace tokens")

  /** Persist the (source, sk, n) model frame. */
  def write(model: DataFrame, path: String): Unit =
    bundle.write(path, "overwrite")(
      StoreMaintenance.Frame("sketches", model))

  /** Reload the frozen model frame. Refuses a stale-format bundle. */
  def read(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "sketches")

  /** Fold a new shard's per-source sketches into the standing bundle
    * (KLL merge — additive, history never re-read): rewrites the
    * sketches/ frame as the per-source union of old and new. Refuses a
    * stale-format bundle before touching it. */
  def append(newModel: DataFrame, path: String): Unit = {
    val spark = newModel.sparkSession
    import org.apache.spark.sql.functions._
    // BOUNDED collect: one (sketch, count) row per source — and it must
    // materialize BEFORE the overwrite below, or the write would clobber
    // the very files the lazy read still needs (the self-overwrite trap)
    val standing = read(spark, path)
    val merged = standing.unionByName(newModel)
      .groupBy(col("source"))
      .agg(
        expr(s"graft_kll_merge(sk, ${graft.operators.Calibrate.SketchK})")
          .as("sk"),
        sum(col("n")).as("n"))
      .collect()
    write(spark.createDataFrame(java.util.Arrays.asList(merged: _*),
      standing.schema), path)
  }
}
