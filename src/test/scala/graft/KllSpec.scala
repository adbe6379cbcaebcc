package graft

import org.apache.spark.sql.functions._

/** score_stats_sketch: KLL mergeable quantiles — the rank-error bound
  * vs the exact pass, and shard-merge == single-pass (both within the
  * published tolerance; compaction draws random bits so bit-equality
  * is NOT the contract).
  */
class KllSpec extends SparkSpec {
  // k=200 ⇒ ~1.65 % normalized rank error at 99 % confidence; the
  // assertions allow 4 % to keep the suite deterministic in practice.
  private val RankTol = 0.04

  private def exactRank(cents: Array[Long], v: Double): Double =
    cents.count(_ <= v).toDouble / cents.length

  test("score_stats_sketch: p50/p95 land within rank tolerance of exact") {
    val out = operators.MapReduceDocs.ops.find(_.name == "score_stats_sketch").get
      .query(spark, sfDir).collect()
    assert(out.nonEmpty)
    val byType = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("CAST(ROUND(value * 100) AS BIGINT)").as("c"))
      .collect().groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getLong(1)).sorted }
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      val cents = byType(t)
      assert(r.getAs[Long]("n") == cents.length, s"$t row count")
      val r50 = exactRank(cents, r.getAs[Double]("p50_approx") * 100.0)
      val r95 = exactRank(cents, r.getAs[Double]("p95_approx") * 100.0)
      assert(math.abs(r50 - 0.50) <= RankTol, s"$t p50 rank $r50")
      assert(math.abs(r95 - 0.95) <= RankTol, s"$t p95 rank $r95")
      // sketch min/max columns are exact aggregates, not estimates
      assert(r.getAs[Double]("min_value") * 100.0 <= cents.head + 0.5)
      assert(r.getAs[Double]("max_value") * 100.0 >= cents.last - 0.5)
    }
  }

  test("graft_kll_merge: sharded build merges to the single-pass answer") {
    val e = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE)").as("c"),
        pmod(col("event_id"), lit(4)).as("shard"))
    // shard → fleet rollup: per-shard sketches union WITHOUT re-reading
    // rows; the merged estimate must honor the same rank bound the
    // single-pass sketch does
    val merged = e.groupBy(col("event_type"), col("shard"))
      .agg(expr("graft_kll_agg(c)").as("sk"))
      .groupBy(col("event_type"))
      .agg(expr("graft_kll_merge(sk)").as("sk"))
      .select(col("event_type"),
        expr("graft_kll_quantile(sk, 0.5D)").as("m50"),
        expr("graft_kll_quantile(sk, 0.95D)").as("m95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val byType = e.select(col("event_type"), col("c")).collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getDouble(1)).sorted }
    byType.foreach { case (t, cs) =>
      val (m50, m95) = merged(t)
      val r50 = cs.count(_ <= m50).toDouble / cs.length
      val r95 = cs.count(_ <= m95).toDouble / cs.length
      assert(math.abs(r50 - 0.50) <= RankTol, s"$t merged p50 rank $r50")
      assert(math.abs(r95 - 0.95) <= RankTol, s"$t merged p95 rank $r95")
    }
    // sketch-internal inverse consistency: rank(quantile(q)) ≈ q
    val inv = e.groupBy(col("event_type"))
      .agg(expr("graft_kll_agg(c)").as("sk"))
      .select(expr("graft_kll_rank(sk, graft_kll_quantile(sk, 0.5D))").as("rr"))
      .collect().map(_.getDouble(0))
    inv.foreach(r => assert(math.abs(r - 0.5) <= RankTol, s"rank∘quantile $r"))
  }

  test("quantile_bins_sketch: cutoffs within rank tolerance; bins near-balanced") {
    val out = operators.Sampling.quantileBinsSketch(
      Tables(spark, sfDir, "documents")).collect()
    val n = out.length
    assert(n > 0)
    // each cutoff's empirical rank within the KLL bound
    val lens = out.map(_.getAs[Long]("n_toks")).sorted
    val r = out.head
    Seq(("q1", 0.25), ("q2", 0.50), ("q3", 0.75)).foreach { case (c, q) =>
      val cut = r.getAs[Double](c)
      val rank = lens.count(_ <= cut).toDouble / n
      assert(math.abs(rank - q) <= RankTol, s"$c rank $rank vs $q")
    }
    // bin assignment is consistent with the broadcast cutoffs, and no
    // bin strays further from n/4 than the rank tolerance allows
    out.foreach { row =>
      val (t, b) = (row.getAs[Long]("n_toks"), row.getAs[Long]("bin"))
      val expect =
        if (t <= row.getAs[Double]("q1")) 0L
        else if (t <= row.getAs[Double]("q2")) 1L
        else if (t <= row.getAs[Double]("q3")) 2L else 3L
      assert(b == expect)
    }
    val byBin = out.groupBy(_.getAs[Long]("bin")).map { case (b, rs) => b -> rs.length }
    (0L to 3L).foreach { b =>
      val share = byBin.getOrElse(b, 0).toDouble / n
      assert(math.abs(share - 0.25) <= 2 * RankTol + 0.02,
        s"bin $b share $share far from balanced")
    }
  }

  test("score_stats_sketch plan: one scan, no O(rows) shuffle after it") {
    val plan = operators.MapReduceDocs.ops.find(_.name == "score_stats_sketch").get
      .query(spark, sfDir).queryExecution.executedPlan.toString
    // the aggregate carries constant-size sketch buffers: exactly the
    // group-by exchange, no percentile-style value buffering windows
    assert(!plan.contains("Window"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }
}
