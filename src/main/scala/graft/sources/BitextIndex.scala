package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sink_bitext — the persisted TARGET side of the bitext miner
  * (mine_bitext's serving state), closing the same gap sink_lm closes
  * for perplexity: an online miner must not re-band, re-score or
  * re-pool the standing target corpus per arriving shard. One bundle:
  *
  *   bands/  (j, band_key, t_id) — the targets' LSH band rows, range-
  *           sharded on the join key (arriving sources probe these)
  *   vecs/   (t_id, embedding)   — target vectors for the cosine
  *   stats/  (t_id, t_avg)       — mean-of-top-k backward pools from
  *           the BUILD corpus (Artetxe & Schwenk's hub-correction
  *           denominator); a target whose neighborhood drifts as new
  *           sources arrive keeps its build-time pool — the documented
  *           staleness, with rebuild as the trigger (the ann_upsert
  *           model-drift contract)
  *
  * `bits` is persisted in `meta/` so probes band identically to the
  * build (a mismatched bit count silently empties every bucket).
  */
object BitextIndex {

  /** Bundle format version (`_graft_format` marker, shared
    * [[StoreMaintenance]] scheme). Version history:
    *
    *   - 1 — band rows from [[graft.operators.Similarity.mineBandRows]]
    *     (sign-random-projection bits, the persisted `meta/bits` band
    *     width) and build-corpus backward pools per Artetxe & Schwenk.
    *     A projection/banding change silently empties every probe
    *     bucket — exactly the failure `meta/bits` guards within a
    *     version, and the marker guards across versions.
    *   - 2 — the LSH hyperplane component mix in
    *     [[graft.plans.LshBandKeys]] changed from a linear congruence
    *     to the squared-Lehmer mix (decorrelated sign bits). Every
    *     band key changes: v1 bundles band under the old formula, so
    *     probes under the new one would silently return empty — the
    *     exact failure the v1 note names. Readers refuse v1 bundles.
    */
  val FormatVersion = 2

  private val bundle = StoreMaintenance.Bundle("bitext", FormatVersion,
    "mineBandRows sign-projection banding + bwdPool stats")

  def write(src: DataFrame, tgt: DataFrame, path: String, bits: Int,
      nShards: Int = 2): Unit =
    bundle.write(path, "overwrite")(
      StoreMaintenance.Frame("bands",
        graft.operators.Similarity.mineBandRows(tgt, "t_id", bits),
        Seq("j", "band_key"), nShards),
      StoreMaintenance.Frame("vecs",
        tgt.select(col("vec_id").as("t_id"), col("embedding")),
        Seq("t_id"), nShards),
      StoreMaintenance.Frame("stats", graft.operators.Similarity.bwdPool(
          graft.operators.Similarity.mineScored(src, tgt, bits)),
        Seq("t_id"), nShards),
      StoreMaintenance.Frame("meta",
        src.sparkSession.range(1).select(lit(bits).as("bits"))))

  def readBands(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "bands")

  def readVecs(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "vecs")

  def readStats(spark: SparkSession, path: String): DataFrame =
    bundle.read(spark, path, "stats")

  def readBits(spark: SparkSession, path: String): Int =
    bundle.read(spark, path, "meta").head().getInt(0)
}
