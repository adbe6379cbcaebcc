package graft.operators

import graft.{Op, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pairwise source-overlap profiling — "how much vocabulary do two
  * corpus slices share?" — the curation question behind source
  * weighting and dedup scoping (two slices with near-identical
  * vocabularies are candidates for merging or for cross-slice dedup;
  * disjoint ones can be deduped independently and mixed freely). Two
  * modes, the profile_stats / profile_sketch pairing convention:
  *
  *  - overlap_exact: the audit mode. Distinct (source, token) pairs →
  *    self-join on token → per-pair intersection counts, Jaccard in
  *    exact integer ppm. The join's fan-out per token is C(s, 2) where
  *    s = #sources carrying the token — bounded by sources², which is
  *    fine for tens of sources and quadratic for thousands; and the
  *    distinct pre-pass shuffles one row per (source, token). The
  *    right tool exactly when sources are few or an exact audit is
  *    demanded.
  *  - overlap_sketch: the at-scale mode. ONE scan builds a
  *    constant-size theta sketch per source (map-side partial combine;
  *    [[graft.plans.ThetaSketch]]), the s-row sketch frame self-joins
  *    (s² kilobyte-sized rows — broadcast, no token ever re-shuffled),
  *    and |A∩B| / |A∪B| / Jaccard evaluate directly on sketch pairs.
  *    Adding a source never reprocesses the others (sketches are
  *    mergeable — the shard→fleet rollup contract shared with the HLL
  *    and KLL families). Estimates, not exact → rows-only; the spec
  *    pins every estimate within the published error band of the exact
  *    mode's numbers.
  *
  * Both emit one row per unordered source pair (src_a < src_b):
  * intersection size, both vocabulary sizes, and Jaccard — exact mode
  * in integer ppm (floor division, engine-identical), sketch mode as
  * the estimate rounded to 2 dp.
  */
object Overlap {

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  /** Distinct (source, token) vocabulary — the exact mode's unit
    * frame; one skinny shuffle, text never leaves its scan. */
  private def vocab(d: DataFrame): DataFrame =
    d.select(col("source"), explode(TextFns.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()

  private[graft] def overlapExact(d: DataFrame): DataFrame = {
    // the skinny distinct frame feeds THREE consumers (both join sides
    // and the size aggregate) — materialize it once so the corpus scan
    // + explode + distinct shuffle run once, not per consumer (the
    // data_card / dedup_minhash shared-frame lesson)
    val v = vocab(d).localCheckpoint()
    val sizes = v.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    val pairs = v.as("a")
      .join(v.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes).as("sa"), col("src_a") === col("sa.source"))
      .join(broadcast(sizes).as("sb"), col("src_b") === col("sb.source"))
      .select(col("src_a"), col("src_b"), col("inter"),
        col("sa.nv").as("n_a"), col("sb.nv").as("n_b"),
        expr("inter * 1000000L DIV (sa.nv + sb.nv - inter)")
          .as("jaccard_ppm"))
  }

  private val opExact = Op(
    "overlap_exact",
    (s, dir) => overlapExact(docs(s, dir)),
    Some("""
      WITH v AS (
        SELECT DISTINCT source, u.tok
        FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
        WHERE length(u.tok) > 0),
      sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS nv FROM v GROUP BY 1),
      pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
          CAST(COUNT(*) AS BIGINT) AS inter
        FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2)
      SELECT p.src_a, p.src_b, p.inter,
        sa.nv AS n_a, sb.nv AS n_b,
        CAST(p.inter * 1000000 // (sa.nv + sb.nv - p.inter) AS BIGINT)
          AS jaccard_ppm
      FROM pairs p
      JOIN sizes sa ON p.src_a = sa.source
      JOIN sizes sb ON p.src_b = sb.source"""))

  /** Per-source theta sketches of the token vocabulary — one scan,
    * constant-size partials, the frame overlap_sketch self-joins and
    * any fleet rollup would union (`graft_theta_merge`). */
  private[graft] def vocabSketches(d: DataFrame): DataFrame = {
    d.select(col("source"), explode(TextFns.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"))
      .agg(expr("graft_theta_agg(tok)").as("sk"))
  }

  private[graft] def overlapSketch(d: DataFrame): DataFrame = {
    // materialized once (s rows, one KB-scale sketch per source) so the
    // self-join's two sides read the checkpointed blocks — without this
    // the full corpus scan + sketch aggregation would execute twice,
    // once per join side (overlapExact checkpoints for the same reason)
    val sk = vocabSketches(d).localCheckpoint()
    broadcast(sk.as("a"))
      .join(sk.as("b"), col("a.source") < col("b.source"))
      .select(
        col("a.source").as("src_a"), col("b.source").as("src_b"),
        round(expr("graft_theta_inter_est(a.sk, b.sk)"), 2)
          .as("inter_est"),
        round(expr("graft_theta_est(a.sk)"), 2).as("n_a_est"),
        round(expr("graft_theta_est(b.sk)"), 2).as("n_b_est"),
        round(expr("graft_theta_inter_est(a.sk, b.sk)" +
          " / graft_theta_union_est(a.sk, b.sk)"), 4).as("jaccard_est"))
  }

  private val opSketch = Op(
    "overlap_sketch",
    (s, dir) => overlapSketch(docs(s, dir)),
    None) // sketch estimates — spec-bound to the exact mode's band

  val ops: Seq[Op] = Seq(opExact, opSketch)
}
