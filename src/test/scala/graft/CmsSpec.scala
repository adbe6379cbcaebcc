package graft

import org.apache.spark.sql.functions._

/** Count-min sketch kernels (plans/CountMin.scala) and the vocab_cms
  * driver query: the published one-sided bound, merge EXACTNESS
  * (counter addition — the merged sketch is byte-identical to the
  * one-shot, the property the streaming twin's equality rides on),
  * and the shard → fleet rollup.
  */
class CmsSpec extends SparkSpec {
  import spark.implicits._

  private val width = graft.plans.CountMin.DefaultWidth
  private val eps = 2.0 / width

  test("cms: estimates never undercount; overcount within the published bound; small domains exact") {
    // planted counts: token t_i appears i times, 1 ≤ i ≤ 60
    val rows = (1 to 60).flatMap(i => Seq.fill(i)(s"t$i"))
    val sk = rows.toDF("token")
      .agg(expr(s"graft_cms_agg(token, $width)").as("sk"))
      .localCheckpoint()
    val n = rows.length.toLong
    val total = sk.select(expr("graft_cms_total(sk)")).head.getLong(0)
    assert(total == n, s"totalCount $total != $n")
    val ests = (1 to 60).map { i =>
      i -> sk.select(expr(s"graft_cms_est(sk, 't$i')")).head.getLong(0)
    }
    ests.foreach { case (i, est) =>
      assert(est >= i.toLong, s"t$i undercounted: $est < $i")
      assert(est <= i.toLong + math.ceil(eps * n).toLong,
        s"t$i overcount beyond eps*N: $est vs $i + ${math.ceil(eps * n)}")
    }
    // 60 distinct tokens over width 8192: collisions are possible in
    // principle but the depth-5 min makes the small-domain read exact
    assert(ests.forall { case (i, est) => est == i.toLong },
      "small-domain estimates must be exact")
    // an absent token reads 0 on a collision-free small domain
    assert(sk.select(expr("graft_cms_est(sk, 'absent')")).head.getLong(0)
      >= 0L)
  }

  test("cms: partitioned aggregation is byte-identical to one partition; rollup merge likewise") {
    val rows = (1 to 500).map(i => (i % 7, s"tok${i % 40}"))
    def bytes(parts: Int) = rows.toDF("shard", "token")
      .repartition(parts)
      .agg(expr(s"graft_cms_agg(token, $width)").as("sk"))
      .head.getAs[Array[Byte]]("sk")
    // merge is exact counter addition: no purge order, no random
    // draws — any partitioning yields the SAME bytes
    assert(java.util.Arrays.equals(bytes(1), bytes(8)),
      "partitioned CMS must equal the one-shot sketch bit for bit")
    // shard → fleet rollup: per-shard sketches merged via
    // graft_cms_merge == the global one-shot
    val rolled = rows.toDF("shard", "token")
      .groupBy(col("shard"))
      .agg(expr(s"graft_cms_agg(token, $width)").as("sk"))
      .agg(expr(s"graft_cms_merge(sk, $width)").as("sk"))
      .head.getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(rolled, bytes(1)),
      "rollup of shard sketches must equal the global sketch")
  }

  test("vocab_cms driver query: per-row bound holds; totals match; exact on the closed vocabulary") {
    val out = SparkEntry.queries("vocab_cms")(spark, sfDir).collect()
    assert(out.nonEmpty)
    // per-language totals: sum of exact counts == the sketch's N
    out.groupBy(_.getAs[String]("lang")).foreach { case (l, rs) =>
      val exactSum = rs.map(_.getAs[Long]("n_exact")).sum
      assert(rs.map(_.getAs[Long]("n_total")).toSet == Set(exactSum),
        s"$l: n_total vs sum of exact counts")
      rs.foreach { r =>
        val (e, est, n) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_est"),
          r.getAs[Long]("n_total"))
        assert(est >= e, s"$l/${r.getAs[String]("token")} undercount")
        assert(est <= e + math.ceil(eps * n).toLong,
          s"$l/${r.getAs[String]("token")} overcount beyond bound")
      }
    }
    // the synthetic 31-word vocabulary sits far below any collision
    // regime: every estimate must be exact
    assert(out.forall(r =>
      r.getAs[Long]("n_est") == r.getAs[Long]("n_exact")),
      "closed-vocabulary estimates must be exact")
  }
}
