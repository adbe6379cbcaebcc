package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rerank-width cost/recall sweep (VERDICT r14 #3): the r14 artifact
  * claimed moving RerankK 64 → 256 cost "< 0.2 s combined" across the
  * three PQ serving paths, while the same-session prev-jar bench read
  * ann_filtered +0.77 s and ann_ivf_pq +0.45 s — the trade was
  * deliberate but its recorded cost disagreed with the recorded
  * measurement. This main settles it the way the prev-jar harness
  * settles round deltas: ONE session, one box epoch, all three paths
  * timed (median of SPARK_GRAFT_RUNS, noop sink — the Bench
  * methodology) at rk ∈ {64, 128, 256}, with recall@k vs exact float
  * brute force for each width, so cost and benefit sit in the same
  * JSON object.
  *
  * Prints one line:
  *   {"rerank_cost":{"ann_pq@rk64":{"sec":…,"recall":…},…},"sf":…}
  */
object RerankCost {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = Bench.buildSession()
    Bench.warmup(spark, sfDir)

    def collectTopK(df: DataFrame, k: Int): Map[Long, Set[Long]] =
      df.filter(col("rk") <= k)
        .select(col("q_id"), col("c_id")).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

    /** Exact float top-k per query over `cand` (the RecallAudit shape). */
    def brute(cand: DataFrame, k: Int): Map[Long, Set[Long]] = {
      val e = Tables(spark, sfDir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val c = cand.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"))
      val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
        .withColumn("cos", round(expr("graft_cosine(q_emb, c_emb)"), 6))
      collectTopK(graft.plans.TopK.perKey(scored, Seq("q_id"),
        Seq("cos" -> graft.plans.TopK.Desc,
          "c_id" -> graft.plans.TopK.Asc), k), k)
    }

    def recall(truth: Map[Long, Set[Long]],
        approx: Map[Long, Set[Long]]): Double = {
      val total = truth.values.map(_.size).sum
      val hit = truth.map { case (q, ids) =>
        (ids & approx.getOrElse(q, Set.empty)).size }.sum
      hit.toDouble / total
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }

    val e = Tables(spark, sfDir, "embeddings")
    val brute5 = brute(e, 5)
    val brute3 = brute(e, 3)
    val brute3f = brute(e.filter(operators.Similarity.FilteredPred), 3)

    // (name, k, truth, plan builder at a given rerank width)
    val paths: Seq[(String, Int, Map[Long, Set[Long]], Int => DataFrame)] =
      Seq(
        ("ann_pq", 5, brute5,
          rk => operators.Similarity.pqRank(spark, sfDir, rk)),
        ("ann_ivf_pq", 3, brute3,
          rk => operators.Similarity.ivfRank(spark, sfDir, "pq", None, 1, rk)),
        ("ann_filtered", 3, brute3f,
          rk => operators.Similarity.ivfRank(spark, sfDir, "pq",
            Some(operators.Similarity.FilteredPred),
            operators.Similarity.FilterProbeBoost, rk)))

    val cells = for {
      rk <- Seq(64, 128, 256)
      (name, k, truth, build) <- paths
    } yield {
      val secs = (1 to runs).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        build(rk).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val r = recall(truth, collectTopK(build(rk), k))
      f""""$name@rk$rk":{"sec":${median(secs)}%.3f,"recall":$r%.4f}"""
    }
    println(s"""{"rerank_cost":{${cells.mkString(",")}},"runs":$runs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
