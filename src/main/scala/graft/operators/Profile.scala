package graft.operators

import graft.{Fns, Op, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** profile_stats — ANALYZE-style table profiling (the stats every
  * engine collects before planning: null counts, exact NDV, min/max
  * per column), emitted long-format (one row per profiled column).
  *
  * Scale shape — two passes, both bounded (the naive alternative,
  * k exact `countDistinct`s in one aggregate, lowers to an Expand ×(k+1)
  * whose first-level aggregate KEYS ON every profiled column at once;
  * string min/max buffers then force SortAggregate, and the plan sorts
  * the k-fold-expanded table — measured 15 s vs 1 s at sf0.1):
  *  1. scalar pass: null counts + native-type min/max in ONE narrow
  *     no-grouping aggregate (grouping-free SortAggregate needs no
  *     sort; partial buffers are a constant row per partition);
  *  2. NDV pass: the table melts to skinny (col_name, value) rows —
  *     casts are injective (long→string, identity on strings) so NDV
  *     is preserved — then two hash aggregations with map-side partial
  *     combine (the vocab_topk shape): the shuffle carries one row per
  *     DISTINCT (column, value), never per input row.
  * min/max are computed on the NATIVE type (numeric order, not
  * lexicographic) and cast to string only for the unified output
  * schema. Doubles ride the repo's cents convention (exact integer;
  * see Fns.cents) — profiling floats via exact distinct-count on raw
  * doubles would be summation-safe but NDV-fragile cross-engine.
  * Timestamp columns are excluded (the ns parquet type is
  * engine-specific; Tables handles it for queries).
  */
object Profile {

  /** (output name, Spark value expr, DuckDB value sql) per column. */
  private def profiled: Seq[(String, Column, String)] =
    Seq("l_orderkey", "l_partkey", "l_suppkey").map(n =>
      (n, col(n), n)) ++
      Seq(("l_linenumber", col("l_linenumber").cast("long"),
        "CAST(l_linenumber AS BIGINT)")) ++
      Seq("l_returnflag", "l_linestatus").map(n => (n, col(n), n)) ++
      Seq(("l_quantity_cents", Fns.cents(col("l_quantity")),
        Fns.centsSql("l_quantity")))

  private[graft] def profileStats(d: DataFrame): DataFrame = {
    val cols = profiled
    val aggs: Seq[Column] = cols.flatMap { case (n, c, _) =>
      Seq(count(c).as(s"${n}__nn"),
        min(c).cast("string").as(s"${n}__min"),
        max(c).cast("string").as(s"${n}__max"))
    }
    val a = d.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stackArgs = cols.map { case (n, _, _) =>
      s"'$n', ${n}__nn, ${n}__min, ${n}__max"
    }.mkString(", ")
    val scalar = a.select(col("n_rows"), expr(
      s"stack(${cols.size}, $stackArgs) AS (col_name, nn, min_v, max_v)"))
    val melted = d.select(posexplode(array(cols.map { case (n, c, _) =>
        struct(lit(n).as("col_name"), c.cast("string").as("v")) }: _*))
        .as(Seq("i", "kv")))
      .select(col("kv.col_name").as("col_name"), col("kv.v").as("v"))
      .filter(col("v").isNotNull)
    val ndv = melted.groupBy(col("col_name"), col("v"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("col_name")).agg(count(lit(1)).as("n_distinct"))
    scalar.join(broadcast(ndv), Seq("col_name"), "left")
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("nn")).as("n_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_v"), col("max_v"))
  }

  /** profile_sketch — the at-scale profiling mode. profile_stats' NDV
    * pass is exact and oracle-checked, but exact distinct on a UNIQUE
    * key column (l_orderkey) shuffles one row per distinct value =
    * O(rows) — unavoidable for exact, wrong as the ONLY mode at
    * 100 TB. This variant estimates NDV with the same mergeable
    * DataSketches HLL machinery q29_sketch_merge uses
    * (hll_sketch_agg at lgK = [[Relational2.SketchLgK]], ±~1 %),
    * folded into the SAME single no-grouping aggregate as the null
    * counts and native-order min/max: ONE table scan, partial sketch
    * buffers merge map-side, the shuffle carries one constant-size
    * row per partition — nothing is O(rows) after the scan. Rows-only
    * (sketch internals aren't portable SQL); the tolerance spec vs
    * the exact pass is the correctness bound.
    */
  private[graft] def profileSketch(d: DataFrame): DataFrame = {
    val cols = profiled
    val aggs: Seq[Column] = cols.flatMap { case (n, c, _) =>
      Seq(count(c).as(s"${n}__nn"),
        min(c).cast("string").as(s"${n}__min"),
        max(c).cast("string").as(s"${n}__max"),
        call_function("hll_sketch_estimate",
          call_function("hll_sketch_agg", c, lit(Relational2.SketchLgK)))
          .as(s"${n}__nd"))
    }
    val a = d.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stackArgs = cols.map { case (n, _, _) =>
      s"'$n', ${n}__nn, ${n}__nd, ${n}__min, ${n}__max"
    }.mkString(", ")
    a.select(col("n_rows"), expr(
        s"stack(${cols.size}, $stackArgs) " +
          "AS (col_name, nn, approx_distinct, min_v, max_v)"))
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("nn")).as("n_null"),
        col("approx_distinct"), col("min_v"), col("max_v"))
  }

  private val opSketch = Op(
    "profile_sketch",
    (s, dir) => profileSketch(Tables(s, dir, "lineitem")),
    None)

  private val opProfile = Op(
    "profile_stats",
    (s, dir) => profileStats(Tables(s, dir, "lineitem")),
    Some {
      val aggExprs = profiled.map { case (n, _, sql) =>
        s"""CAST(COUNT($sql) AS BIGINT) AS ${n}__nn,
          CAST(COUNT(DISTINCT $sql) AS BIGINT) AS ${n}__nd,
          CAST(MIN($sql) AS VARCHAR) AS ${n}__min,
          CAST(MAX($sql) AS VARCHAR) AS ${n}__max"""
      }.mkString(",\n        ")
      val branches = profiled.map { case (n, _, _) =>
        s"""SELECT '$n' AS col_name, n_rows, n_rows - ${n}__nn AS n_null,
          ${n}__nd AS n_distinct, ${n}__min AS min_v, ${n}__max AS max_v FROM a"""
      }.mkString("\n      UNION ALL ")
      s"""
      WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        $aggExprs
      FROM lineitem)
      $branches"""
    })

  // ---- profile_drift: snapshot-vs-snapshot composition drift ----
  // Train/serve skew detection — "did the corpus composition move
  // between two snapshots?" (the production drift monitor every
  // serving stack runs before trusting a model trained on snapshot A
  // against traffic from snapshot B). Per source: both snapshots'
  // doc shares as INTEGER ppm (exact at any corpus size — the
  // float-free discipline), the absolute ppm delta, and the
  // log-ratio in whole bits through the perplexity bit-surprisal
  // kernel (floor-log2 via length(bin()) of the 2^20-scaled
  // smoothed share ratio — identical in Spark and DuckDB, no libm
  // in sight; the class doc of Dsir records why engine-portable
  // drift math must avoid ln()). The chi-square form was rejected
  // on arithmetic grounds: its cross-product numerator
  // (cnt_a·n_b)² overflows int64/decimal(38) at ~10^12-doc
  // snapshots — ppm shares stay in int32 range forever. One
  // per-source aggregate + a broadcast totals row; scale-free.
  private[graft] def profileDrift(d: DataFrame): DataFrame = {
    // snapshots: doc_id parity — a deterministic stand-in for
    // "yesterday's corpus vs today's" on the fixture tables
    val per = d.select(col("source"), (col("doc_id") % 2 === 0).as("a"))
      .groupBy(col("source"))
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("a"), 0L).otherwise(1L)).as("cnt_b"))
      .localCheckpoint()
    val tot = per.agg(sum(col("cnt_a")).as("na"), sum(col("cnt_b")).as("nb"))
    per.crossJoin(broadcast(tot))
      .withColumn("share_a_ppm", expr("cnt_a * 1000000 DIV na"))
      .withColumn("share_b_ppm", expr("cnt_b * 1000000 DIV nb"))
      .select(col("source"), col("cnt_a"), col("cnt_b"),
        col("share_a_ppm"), col("share_b_ppm"),
        abs(col("share_a_ppm") - col("share_b_ppm")).as("delta_ppm"),
        (length(bin(expr("((share_a_ppm + 1) * 1048576) DIV (share_b_ppm + 1)")))
          .cast("long") - 1L - 20L).as("shift_bits"))
  }

  private val opDrift = Op(
    "profile_drift",
    (s, dir) => profileDrift(Tables(s, dir, "documents")),
    Some("""
      WITH per AS (
        SELECT source,
          CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS cnt_a,
          CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT)
            AS cnt_b
        FROM documents GROUP BY 1),
      tot AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
        CAST(SUM(cnt_b) AS BIGINT) AS nb FROM per),
      sh AS (SELECT source, cnt_a, cnt_b,
          cnt_a * 1000000 // na AS share_a_ppm,
          cnt_b * 1000000 // nb AS share_b_ppm
        FROM per, tot)
      SELECT source, cnt_a, cnt_b, share_a_ppm, share_b_ppm,
        ABS(share_a_ppm - share_b_ppm) AS delta_ppm,
        CAST(length(bin(((share_a_ppm + 1) * 1048576) // (share_b_ppm + 1)))
          - 1 - 20 AS BIGINT) AS shift_bits
      FROM sh"""))

  // ---- outlier_mad: robust outlier flags (median/MAD) ----
  // The data-quality gate mean/stddev z-scores get wrong: one wild
  // value inflates σ until nothing else looks anomalous (breakdown
  // point 0), while the median absolute deviation ignores up to half
  // the data going bad (breakdown point 1/2) — the standard robust-
  // statistics recipe (Hampel's 3·MAD rule). Per event type: median of
  // the value in cents, MAD around it, and a per-event flag
  // |c − med| > 3·MAD.
  //
  // Exactness: cents are integers, so the interpolated median is a
  // half-integer, deviations are half-integers, the MAD is a quarter-
  // integer, and 3·MAD stays a dyadic rational ≪ 2^52 — every compare
  // is EXACT double arithmetic in both engines, no rounding epsilon
  // anywhere (the Fns.cents discipline extended through two quantile
  // levels). Scale shape: Spark's exact `percentile` buffers a
  // value→count map, i.e. O(DISTINCT cents) ≤ 100 001 per group (the
  // bounded-domain argument score_stats/quantile_bins established,
  // spec-pinned on the fixture), never O(rows); both joins broadcast
  // the handful of per-type rows. For an UNBOUNDED value domain the
  // sketch twin below is the deployment mode — the exact/sketch
  // pairing convention of profile_stats/profile_sketch.
  private def madShape(ev: DataFrame,
      med50: String => Column): DataFrame = {
    val e = ev.select(col("event_id"), col("event_type"),
      Fns.cents(col("value")).as("cents"))
    val med = e.groupBy(col("event_type"))
      .agg(med50("cents").as("med"))
    // pinned: the skinny dev frame feeds BOTH the MAD aggregate and
    // the final flag join — lazy, each consumer would re-scan the
    // event table (census read 4 scans before the pin, 2 after).
    // Single-box localCheckpoint caveat as documented at
    // Dedup.simhashPairs: on a real cluster swap for
    // persist(MEMORY_AND_DISK) so lineage survives executor loss.
    val dev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("cents") - col("med")))
      .localCheckpoint()
    val mad = dev.groupBy(col("event_type"))
      .agg(med50("dev").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("cents"),
        round(col("med"), 2).as("med"), round(col("mad"), 2).as("mad"),
        col("dev"),
        (col("dev") > col("mad") * 3.0).cast("long").as("is_outlier"))
  }

  private[graft] def outlierMad(ev: DataFrame): DataFrame =
    madShape(ev, c => expr(s"percentile($c, 0.5D)"))

  private val opOutlierMad = Op(
    "outlier_mad",
    (s, dir) => outlierMad(Tables.events(s, dir)),
    Some(s"""
      WITH e AS (SELECT event_id, event_type,
          ${graft.Fns.centsSql("value")} AS cents FROM events),
      m AS (SELECT event_type, quantile_cont(cents, 0.5) AS med
        FROM e GROUP BY 1),
      d AS (SELECT e.event_id, e.event_type, e.cents, m.med,
          ABS(e.cents - m.med) AS dev
        FROM e JOIN m USING (event_type)),
      md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
        FROM d GROUP BY 1)
      SELECT d.event_id, d.event_type, d.cents,
        ROUND(d.med, 2) AS med, ROUND(md.mad, 2) AS mad, d.dev,
        CAST(d.dev > md.mad * 3.0 AS BIGINT) AS is_outlier
      FROM d JOIN md USING (event_type)"""))

  // Sketch twin: same two-level shape with KLL medians (constant-size
  // mergeable partials — the quantile_bins_sketch machinery), for
  // value domains where O(distinct) is unbounded (losses, latencies,
  // perplexities). Rank error ≤ ~1.65 % can flip flags only for
  // events within that band of the 3·MAD fence — the monitoring
  // semantics are insensitive to it. Rows-only (KLL compaction is
  // randomized); the spec bounds sketch-vs-exact flag disagreement.
  private[graft] def outlierMadSketch(ev: DataFrame): DataFrame = {
    madShape(ev, c => expr(
      s"graft_kll_quantile(graft_kll_agg(CAST($c AS DOUBLE)), 0.5D)"))
  }

  private val opOutlierSketch = Op(
    "outlier_mad_sketch",
    (s, dir) => outlierMadSketch(Tables.events(s, dir)),
    None)

  // ---- snapshot_diff: crawl-to-crawl CONTENT churn per source ----
  // profile_drift answers "did the composition move?"; this answers
  // the content question underneath it — per source, how many distinct
  // documents were ADDED, REMOVED, or CARRIED between two snapshots
  // (the crawl-diff every recrawling pipeline runs to size incremental
  // work and spot dead sources). Keyed on md5(text) within source, so
  // a re-crawled identical page is "carried" no matter what doc_id the
  // crawler assigned it (the split_safe content-keyed discipline).
  // Shape: ONE skinny shuffle — only (source, digest, side-bits) rows
  // move, text never leaves its scan; distinct-within-side then a
  // (source, digest) roll-up, per-source counts fold from it. Churn as
  // exact integer ppm. Snapshots = doc_id parity (profile_drift's
  // deterministic stand-in for "yesterday vs today").
  private[graft] def snapshotDiff(d: DataFrame): DataFrame = {
    val sides = d
      .select(col("source"), md5(col("text")).as("dig"),
        (col("doc_id") % 2 === 0).as("a"))
      .groupBy(col("source"), col("dig"))
      .agg(max(when(col("a"), 1L).otherwise(0L)).as("in_a"),
        max(when(col("a"), 0L).otherwise(1L)).as("in_b"))
    sides
      .groupBy(col("source"))
      .agg(
        sum(col("in_a")).as("n_a"),
        sum(col("in_b")).as("n_b"),
        sum(when(col("in_a") === 0L, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("in_b") === 0L, 1L).otherwise(0L)).as("n_removed"),
        sum(col("in_a") * col("in_b")).as("n_carried"))
      .withColumn("churn_ppm",
        expr("(n_added + n_removed) * 1000000L DIV (n_a + n_b)"))
  }

  private val opSnapshotDiff = Op(
    "snapshot_diff",
    (s, dir) => snapshotDiff(Tables(s, dir, "documents")),
    Some("""
      WITH sides AS (
        SELECT source, md5(text) AS dig,
          CAST(MAX(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS in_a,
          CAST(MAX(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT)
            AS in_b
        FROM documents GROUP BY 1, 2)
      SELECT source,
        CAST(SUM(in_a) AS BIGINT) AS n_a,
        CAST(SUM(in_b) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN in_a = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_added,
        CAST(SUM(CASE WHEN in_b = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_removed,
        CAST(SUM(in_a * in_b) AS BIGINT) AS n_carried,
        CAST((SUM(CASE WHEN in_a = 0 THEN 1 ELSE 0 END)
            + SUM(CASE WHEN in_b = 0 THEN 1 ELSE 0 END)) * 1000000
          // (SUM(in_a) + SUM(in_b)) AS BIGINT) AS churn_ppm
      FROM sides GROUP BY 1"""))

  val ops: Seq[Op] =
    Seq(opProfile, opSketch, opDrift, opOutlierMad, opOutlierSketch,
      opSnapshotDiff)
}
