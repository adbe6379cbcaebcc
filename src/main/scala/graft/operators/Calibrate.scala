package graft.operators

import graft.{Op, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-source quality-score CALIBRATION — the curation step between
  * scoring and thresholding. A raw quality score is not comparable
  * across corpus slices: web text and reference text occupy different
  * score ranges, so one global threshold over-prunes the low-scoring
  * source and under-prunes the high-scoring one (the CCNet observation
  * — per-domain percentiles, not global cuts). Calibration maps each
  * doc's score to its PERCENTILE WITHIN ITS SOURCE; a single global
  * percentile floor then drops the same fraction of every slice,
  * preserving the mixture. Two modes, the profile_stats /
  * profile_sketch pairing:
  *
  *  - score_calibrate: exact — RANK() per source, percentile in exact
  *    integer ppm (engine-identical floor division), full DuckDB
  *    oracle. One hash partition per source + in-partition sort; the
  *    audit mode, and the small-source mode — a 10 TB source in one
  *    window partition is exactly the shape the sketch mode exists to
  *    avoid.
  *  - score_calibrate_sketch: the deployment mode — ONE pass builds a
  *    constant-size KLL sketch per source (map-side combine, ~1.65 %
  *    rank error at k=200), a second narrow pass reads each doc's
  *    estimated rank via graft_kll_rank with the tiny sketch frame
  *    broadcast. No per-source sort, no O(source) window partition —
  *    both passes are scan-shaped at any source size. The sketch frame
  *    is also the PERSISTED calibration model ([[graft.sources
  *    .CalibrationStore]]) the streaming gate serves from.
  *
  * The score itself is the lexical-diversity ratio in exact integer
  * ppm (distinct tokens / tokens — one of text_quality's published
  * heuristics, chosen here because it is integer-exact so ranking is
  * engine-identical and sketch floats round-trip losslessly).
  */
object Calibrate {

  /** Global percentile floor (ppm): docs below the 20th percentile of
    * their own source are cut. */
  val KeepFloorPpm = 200000L

  /** KLL sketch size for the deployment mode (the repo-wide default:
    * ~1.65 % normalized rank error, 99 % confidence). */
  val SketchK: Int = graft.plans.KllQuantiles.DefaultK

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  /** The calibrated score: lexical diversity in exact integer ppm. */
  private[graft] def scored(d: DataFrame): DataFrame =
    d.withColumn("toks", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        expr("size(array_distinct(toks)) * 1000000L DIV size(toks)")
          .as("score_ppm"))

  private[graft] def calibrateExact(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("source"))
    scored(d)
      .withColumn("rk",
        rank().over(bySrc.orderBy(col("score_ppm"))).cast("long"))
      .withColumn("n", count(lit(1)).over(bySrc))
      .select(col("doc_id"), col("source"), col("score_ppm"),
        expr("(rk - 1L) * 1000000L DIV greatest(n - 1L, 1L)")
          .as("pct_ppm"))
      .withColumn("keep",
        when(col("pct_ppm") >= KeepFloorPpm, 1L).otherwise(0L))
  }

  private val opExact = Op(
    "score_calibrate",
    (s, dir) => calibrateExact(docs(s, dir)),
    Some(s"""
      WITH s AS (
        SELECT doc_id, source,
          CAST(len(list_distinct(string_split(text, ' '))) * 1000000
            // len(string_split(text, ' ')) AS BIGINT) AS score_ppm
        FROM documents),
      r AS (
        SELECT doc_id, source, score_ppm,
          CAST(RANK() OVER (PARTITION BY source ORDER BY score_ppm)
            AS BIGINT) AS rk,
          CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM s)
      SELECT doc_id, source, score_ppm,
        CAST((rk - 1) * 1000000 // GREATEST(n - 1, 1) AS BIGINT)
          AS pct_ppm,
        CASE WHEN (rk - 1) * 1000000 // GREATEST(n - 1, 1)
          >= $KeepFloorPpm THEN 1 ELSE 0 END AS keep
      FROM r"""))

  /** The per-source calibration model: one constant-size KLL sketch of
    * the score distribution per source plus its doc count — the frame
    * [[graft.sources.CalibrationStore]] persists and every serving
    * path (batch sketch mode, streaming gate) probes. */
  private[graft] def calibrationModel(d: DataFrame): DataFrame = {
    scored(d)
      .groupBy(col("source"))
      .agg(
        expr(s"graft_kll_agg(CAST(score_ppm AS DOUBLE), $SketchK)")
          .as("sk"),
        count(lit(1)).as("n"))
  }

  /** Serve calibrated ranks from a (source, sk, n) model frame — the
    * shared kernel of the batch sketch mode and the streaming gate:
    * broadcast the tiny model, read each doc's estimated inclusive
    * rank, keep at the same global floor. Narrow per-row work; no
    * sort, no window. */
  private[graft] def calibrateFrom(d: DataFrame, model: DataFrame): DataFrame = {
    scored(d).as("d")
      .join(broadcast(model).as("m"), col("d.source") === col("m.source"))
      .select(col("doc_id"), col("d.source").as("source"),
        col("score_ppm"),
        round(expr("graft_kll_rank(m.sk, CAST(score_ppm AS DOUBLE))"), 4)
          .as("pct_est"))
      .withColumn("keep",
        when(col("pct_est") >= KeepFloorPpm / 1e6, 1L).otherwise(0L))
  }

  private val opSketch = Op(
    "score_calibrate_sketch",
    (s, dir) => {
      val d = docs(s, dir)
      calibrateFrom(d, calibrationModel(d))
    },
    None) // KLL rank estimates — spec-bound to the exact mode's band

  val ops: Seq[Op] = Seq(opExact, opSketch)
}
