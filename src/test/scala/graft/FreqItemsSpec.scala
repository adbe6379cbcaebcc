package graft

import org.apache.spark.sql.functions._

/** vocab_topk_sketch: mergeable Misra–Gries heavy hitters — the
  * published guarantees (no false negatives above the error ceiling,
  * intervals contain exact counts, exact below purge capacity, shard
  * merge == single pass within bounds), not bit-equality (purge order
  * on ties is an implementation detail).
  */
class FreqItemsSpec extends SparkSpec {

  test("graft_freq_agg: below purge capacity every estimate is exact") {
    import spark.implicits._
    // 40 distinct tokens with planted counts 1..40 — far below
    // 0.75 * 64, so no purge can ever fire
    val rows = (1 to 40).flatMap(i => Seq.fill(i)(s"tok$i"))
    val df = rows.toDF("token").repartition(8)
    val out = df.agg(expr("graft_freq_agg(token, 64)").as("sk"))
      .select(explode(expr("graft_freq_topk(sk, 40)")).as("r"),
        expr("graft_freq_maxerr(sk)").as("max_err"))
      .select(col("r.token"), col("r.est"), col("r.lb"), col("r.ub"),
        col("max_err"))
      .collect()
    assert(out.length == 40)
    assert(out.forall(_.getAs[Long]("max_err") == 0L))
    out.foreach { r =>
      val expected = r.getAs[String]("token").drop(3).toLong
      assert(r.getAs[Long]("est") == expected)
      assert(r.getAs[Long]("lb") == expected)
      assert(r.getAs[Long]("ub") == expected)
    }
    // read-out order: descending estimate
    val ests = out.map(_.getAs[Long]("est"))
    assert(ests.sameElements(ests.sortBy(-_)))
  }

  test("graft_freq_agg: planted heavies survive an over-capacity stream within bounds") {
    import spark.implicits._
    // 5 heavy tokens (600 each) in a sea of 20k singletons — distinct
    // count 312x the map size, so purges fire constantly
    val heavies = (1 to 5).flatMap(i => Seq.fill(600)(s"heavy$i"))
    val noise = (1 to 20000).map(i => s"u$i")
    val df = (heavies ++ noise).toDF("token").repartition(8)
    val n = heavies.length + noise.length
    val cap = 64
    val out = df.agg(expr(s"graft_freq_agg(token, $cap)").as("sk"))
      .select(explode(expr("graft_freq_topk(sk, 10)")).as("r"),
        expr("graft_freq_maxerr(sk)").as("max_err"))
      .select(col("r.token"), col("r.est"), col("r.lb"), col("r.ub"),
        col("max_err"))
      .collect()
    val maxErr = out.head.getAs[Long]("max_err")
    // published ceiling: eps ~= 3.5 / maxMapSize of the stream length
    assert(maxErr > 0L && maxErr <= (3.5 * n / cap).toLong + 1,
      s"max_err $maxErr vs ceiling ${(3.5 * n / cap).toLong}")
    val byTok = out.map(r => r.getAs[String]("token") -> r).toMap
    (1 to 5).foreach { i =>
      val r = byTok.get(s"heavy$i")
      assert(r.isDefined, s"heavy$i missing from NO_FALSE_NEGATIVES read")
      assert(r.get.getAs[Long]("lb") <= 600L && 600L <= r.get.getAs[Long]("ub"),
        s"heavy$i bounds [${r.get.getAs[Long]("lb")}, ${r.get.getAs[Long]("ub")}]")
      assert(r.get.getAs[Long]("ub") - r.get.getAs[Long]("lb") <= maxErr)
    }
  }

  test("graft_freq_merge: shard rollup honors the same bounds as single-pass") {
    import spark.implicits._
    val heavies = (1 to 5).flatMap(i => Seq.fill(400)(s"heavy$i"))
    val noise = (1 to 8000).map(i => s"u$i")
    val df = (heavies ++ noise).zipWithIndex
      .map { case (t, i) => (t, i % 4) }.toDF("token", "shard")
    val merged = df.groupBy(col("shard"))
      .agg(expr("graft_freq_agg(token, 64)").as("sk"))
      .agg(expr("graft_freq_merge(sk, 64)").as("sk"))
      .select(explode(expr("graft_freq_topk(sk, 10)")).as("r"),
        expr("graft_freq_maxerr(sk)").as("max_err"))
      .select(col("r.token"), col("r.lb"), col("r.ub"), col("max_err"))
      .collect()
    val byTok = merged.map(r => r.getAs[String]("token") -> r).toMap
    (1 to 5).foreach { i =>
      val r = byTok.get(s"heavy$i")
      assert(r.isDefined, s"heavy$i lost in shard merge")
      assert(r.get.getAs[Long]("lb") <= 400L && 400L <= r.get.getAs[Long]("ub"))
    }
    // merged error ceiling still bounded (merge adds the shards' offsets)
    val n = heavies.length + noise.length
    assert(merged.head.getAs[Long]("max_err") <= (4 * 3.5 * n / 64).toLong)
  }

  test("vocab_topk_sketch: intervals contain the exact counts; head agrees with vocab_topk") {
    val sketch = operators.TextAnalysis.ops.find(_.name == "vocab_topk_sketch").get
      .query(spark, sfDir).collect()
    assert(sketch.nonEmpty)
    val exact = operators.TextAnalysis.ops.find(_.name == "vocab_topk").get
      .query(spark, sfDir).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("n_occ")).toMap
    val maxErr = sketch.head.getAs[Long]("max_err")
    sketch.foreach { r =>
      val tok = r.getAs[String]("token")
      exact.get(tok).foreach { n =>
        assert(r.getAs[Long]("n_occ_lb") <= n && n <= r.getAs[Long]("n_occ_ub"),
          s"$tok exact $n outside [${r.getAs[Long]("n_occ_lb")}, ${r.getAs[Long]("n_occ_ub")}]")
      }
    }
    // the unambiguous head (exact gap > 2*max_err) must be identical
    val exactHead = exact.toSeq.sortBy { case (t, n) => (-n, t) }
    val sketchTok = sketch.map(_.getAs[String]("token")).toSet
    exactHead.take(20).takeWhile(_._2 > exactHead(20)._2 + 2 * maxErr)
      .foreach { case (t, n) =>
        assert(sketchTok.contains(t), s"unambiguous heavy token $t (n=$n) missing")
      }
  }
}
