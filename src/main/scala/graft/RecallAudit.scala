package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale recall audit for the ANN serving ladder (VERDICT r11 #5):
  * measures recall@k of the approximate serving paths against exact
  * brute-force cosine over the SAME query/candidate universe, at
  * whatever scale factor the argument points at. The fixture-scale
  * recall bounds live in the spec suite; this main re-proves them at
  * sf1 so the numbers can sit next to the timing rows in
  * BENCH_sf1.json.
  *
  * Prints one JSON line: {"recall": {op: r@k, ...}, "sf": dir}.
  *
  *   ann_ivf      @3 vs exact top-3 (all candidates)
  *   ann_pq       @5 vs exact top-5 (all candidates)
  *   ann_ivf_pq   @3 vs exact top-3 (all candidates)
  *   ann_filtered @3 vs exact top-3 over the FILTERED candidate set
  *                (the predicate the op serves under)
  */
object RecallAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Bench.buildSession()

    /** Exact float top-k per query (vec_id < 10) over `cand`,
      * returned WITH ranks so one scan serves every smaller k (the
      * brute-force cross scan is the audit's dominant cost — paying
      * it once per candidate universe, not once per k).
      */
    def bruteRanked(cand: DataFrame, k: Int): Map[Long, Map[Long, Long]] = {
      val e = Tables(spark, sfDir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val c = cand.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"))
      val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
        .withColumn("cos", round(expr("graft_cosine(q_emb, c_emb)"), 6))
      graft.plans.TopK.perKey(scored, Seq("q_id"),
          Seq("cos" -> graft.plans.TopK.Desc, "c_id" -> graft.plans.TopK.Asc), k)
        .select(col("q_id"), col("c_id"), col("rk")).collect()
        .groupBy(_.getLong(0))
        .map { case (q2, rs) =>
          q2 -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    }

    def atK(ranked: Map[Long, Map[Long, Long]], k: Int): Map[Long, Set[Long]] =
      ranked.map { case (q2, m) =>
        q2 -> m.collect { case (id, rk) if rk <= k => id }.toSet }

    def approxTopK(name: String, k: Int): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sfDir)
        .filter(col("rk") <= k)
        .select(col("q_id"), col("c_id")).collect()
        .groupBy(_.getLong(0))
        .map { case (q2, rs) => q2 -> rs.map(_.getLong(1)).toSet }

    def recall(brute: Map[Long, Set[Long]],
        approx: Map[Long, Set[Long]]): Double = {
      val total = brute.values.map(_.size).sum
      val hit = brute.map { case (q2, ids) =>
        (ids & approx.getOrElse(q2, Set.empty)).size }.sum
      hit.toDouble / total
    }

    val allCand = Tables(spark, sfDir, "embeddings")
    val filteredCand = allCand.filter(operators.Similarity.FilteredPred)
    val rankedAll = bruteRanked(allCand, 5)
    val brute3 = atK(rankedAll, 3)
    val brute5 = atK(rankedAll, 5)
    val brute3f = atK(bruteRanked(filteredCand, 3), 3)

    val rows = Seq(
      "ann_ivf" -> recall(brute3, approxTopK("ann_ivf", 3)),
      "ann_ivf_quantized" -> recall(brute3,
        approxTopK("ann_ivf_quantized", 3)),
      "ann_pq" -> recall(brute5, approxTopK("ann_pq", 5)),
      "ann_ivf_pq" -> recall(brute3, approxTopK("ann_ivf_pq", 3)),
      "ann_filtered" -> recall(brute3f, approxTopK("ann_filtered", 3)))
    // the over-probe dial: recall vs probed fraction on the float IVF
    // path (probeBoost multiplies nprobeFor(k); scan cost is proportional)
    def boosted(boost: Int): Map[Long, Set[Long]] =
      operators.Similarity.ivfRank(spark, sfDir, "float", None, boost)
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("c_id")).collect()
        .groupBy(_.getLong(0))
        .map { case (q2, rs) => q2 -> rs.map(_.getLong(1)).toSet }
    val curve = Seq(2, 4, 8).map(b =>
      s""""ann_ivf@x$b":${f"${recall(brute3, boosted(b))}%.4f"}""")
      .mkString(",")
    // filtered over-probe curve across SELECTIVITIES (VERDICT r13 #7):
    // the deployment question behind FilterProbeBoost — with predicate
    // selectivity s, probed cells hold ~s× the candidates, so the
    // boost must climb as s falls. Two predicates (~0.5 and ~0.1
    // selectivity, both plain pushed-filter comparisons) × boosts
    // {1, 2, 4}, each PQ-served like ann_filtered, recall@3 vs exact
    // brute force over the SAME filtered candidate universe.
    def filteredBoost(pred: org.apache.spark.sql.Column,
        boost: Int): Map[Long, Set[Long]] =
      operators.Similarity.ivfRank(spark, sfDir, "pq", Some(pred), boost)
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("c_id")).collect()
        .groupBy(_.getLong(0))
        .map { case (q2, rs) => q2 -> rs.map(_.getLong(1)).toSet }
    val selCurve = Seq(
      "sel0.5" -> operators.Similarity.FilteredPred,
      "sel0.1" -> (col("label") <= 0)).flatMap { case (tag, pred) =>
      val bruteSel = atK(bruteRanked(allCand.filter(pred), 3), 3)
      Seq(1, 2, 4).map(b =>
        s""""ann_filtered@$tag@x$b":${
          f"${recall(bruteSel, filteredBoost(pred, b))}%.4f"}""")
    }.mkString(",")
    // rerank-width dial on the lowest ladder rung (ann_ivf_pq): the
    // ADC shortlist only needs to CONTAIN the true top-k, so recall
    // rises with RerankK until the misses are PROBE misses (candidate
    // not in any probed cell) that no rerank width can recover —
    // ann_ivf's recall is that ceiling. Cost of the dial is
    // queries·RerankK skinny float rows, so the curve prices where
    // the knee sits.
    val rerankCurve = Seq(32, 64, 128, 256).map { rk =>
      val approx = operators.Similarity
        .ivfRank(spark, sfDir, "pq", None, 1, rk)
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("c_id")).collect()
        .groupBy(_.getLong(0))
        .map { case (q2, rs) => q2 -> rs.map(_.getLong(1)).toSet }
      s""""ann_ivf_pq@rk$rk":${f"${recall(brute3, approx)}%.4f"}"""
    }.mkString(",")
    // PCA16 evidence row (VERDICT r14 #4): every other ANN rung
    // carries a recall number; this isolates the DIMENSION REDUCTION
    // itself — exact brute-force cosine top-3 in the 16-dim projected
    // space vs exact 64-dim brute force, no IVF/PQ approximation
    // stacked on top, so the number prices what pre-projecting the
    // corpus through embed_pca's basis costs in serving recall.
    val pcaK = operators.EmbedPca.DefaultK
    val proj = operators.EmbedPca.pcaProjectRaw(spark, sfDir, pcaK)
      .select(col("vec_id"),
        transform(col(s"pca$pcaK"), x => x.cast("float")).as("embedding"))
      .localCheckpoint()
    val q16 = proj.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored16 = proj.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"))
      .join(broadcast(q16), col("q_id") =!= col("c_id"))
      .withColumn("cos", round(expr("graft_cosine(q_emb, c_emb)"), 6))
    val pca16Top3 = graft.plans.TopK.perKey(scored16, Seq("q_id"),
        Seq("cos" -> graft.plans.TopK.Desc,
          "c_id" -> graft.plans.TopK.Asc), 3)
      .select(col("q_id"), col("c_id")).collect()
      .groupBy(_.getLong(0))
      .map { case (q2, rs) => q2 -> rs.map(_.getLong(1)).toSet }
    val pcaRow = f""""pca16_brute@3":${recall(brute3, pca16Top3)}%.4f"""
    // the structured counterpart: the row above is honest-LOW because
    // the synthetic embeddings are isotropic (evr_k ≈ 0.38 — no
    // subspace to find). Here the SAME fit+project path runs on a
    // deterministically planted rank-16 corpus (16 random-ish basis
    // directions in 64-dim, coefficients from the SplitMix-style
    // integer chain — no RNG APIs), where PCA16 must preserve the
    // neighborhood structure almost perfectly: together the two rows
    // price the rung — a bandwidth step whose recall cost is ~zero
    // exactly when evr_k says the data is low-rank.
    val pcaPlanted = {
      import spark.implicits._
      val d = 64; val r = 16
      def mix(z0: Long): Double = {
        var z = z0 + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        ((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53).toDouble - 0.5
      }
      val basis = Array.tabulate(r, d)((j, i) => mix(j * 1000L + i))
      val n = 2000
      val rows = (0 until n).map { v =>
        val coef = Array.tabulate(r)(j => mix(700000L + v * 37L + j))
        val e = Array.tabulate(d)(i =>
          (0 until r).map(j => coef(j) * basis(j)(i)).sum.toFloat)
        (v.toLong, e.toSeq)
      }
      val planted = rows.toDF("vec_id", "embedding").localCheckpoint()
      val (mean, comps, _) = operators.EmbedPca.fit(planted, r)
      val proj = planted.select(col("vec_id"),
        transform(operators.EmbedPca.projectCol(col("embedding"), mean, comps),
          x => x.cast("float")).as("embedding"))
        .localCheckpoint()
      def top3(cand: DataFrame): Map[Long, Set[Long]] = {
        val q2 = cand.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val scored = cand.select(col("vec_id").as("c_id"),
            col("embedding").as("c_emb"))
          .join(broadcast(q2), col("q_id") =!= col("c_id"))
          .withColumn("cos", round(expr("graft_cosine(q_emb, c_emb)"), 6))
        graft.plans.TopK.perKey(scored, Seq("q_id"),
            Seq("cos" -> graft.plans.TopK.Desc,
              "c_id" -> graft.plans.TopK.Asc), 3)
          .select(col("q_id"), col("c_id")).collect()
          .groupBy(_.getLong(0))
          .map { case (qq, rs) => qq -> rs.map(_.getLong(1)).toSet }
      }
      recall(top3(planted), top3(proj))
    }
    val pcaPlantedRow = f""""pca16_planted_rank16@3":$pcaPlanted%.4f"""
    val body = rows.map { case (n, r) => f""""$n":$r%.4f""" }.mkString(",")
    println(s"""{"recall":{$body,$pcaRow,$pcaPlantedRow},"probe_boost_curve":{$curve},"filtered_boost_curve":{$selCurve},"rerank_curve":{$rerankCurve},"sf":"$sfDir"}""")
    spark.stop()
  }
}
