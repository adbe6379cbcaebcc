package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The serialized bytes of graft's four sketch families are a stored
  * format: CalibrationStore persists KLL sketches and the streaming
  * state stores persist every family's aggregation buffer. The digests
  * below pin those bytes on a fixed single-partition fixture; the
  * second test checks that one aggregation and the merge of per-shard
  * sketches read out the same answers.
  */
class SketchWireSpec extends SparkSpec {
  import spark.implicits._

  // 150 rows: fewer than KLL's default k = 200, so no compaction coin
  // is drawn and the KLL bytes are deterministic; 37 distinct tokens
  // keep theta and frequent items in their exact modes
  private val rows = (0 until 150).map(i => (i % 5, s"t${i * 7 % 37}", (i * 13 % 101).toDouble))
  private def fixture: DataFrame = rows.toDF("shard", "token", "x").coalesce(1)

  private val families = Seq("kll" -> "x", "theta" -> "token", "freq" -> "token", "cms" -> "token")

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  private def agg(fam: String, in: String): Array[Byte] =
    fixture.agg(expr(s"graft_${fam}_agg($in)")).head.getAs[Array[Byte]](0)

  /** Per-shard sketches, merged in shard order on one partition. */
  private def merged(fam: String, in: String): Array[Byte] = {
    val parts = fixture.groupBy(col("shard"))
      .agg(expr(s"graft_${fam}_agg($in)").as("sk"))
      .collect().map(r => (r.getInt(0), r.getAs[Array[Byte]](1))).sortBy(_._1)
    parts.toSeq.toDF("shard", "sk").coalesce(1)
      .agg(expr(s"graft_${fam}_merge(sk)")).head.getAs[Array[Byte]](0)
  }

  test("sketch wire format: every family's agg and merge bytes match the pinned digests") {
    val want = Map(
      "kll" -> ("21950a22b91b43e1034b475d3d97ef475b10a4e5a84d2baa8508bde14e05a7fa",
        "0258f4266dee750bbb642b83431b64cd399910c0f34f0edfa59750fb7b29f892"),
      "theta" -> ("564251f6e448fbb58be67f4c9e8eb188e742e2e45bc518dbb5fda48e34d4ad99",
        "564251f6e448fbb58be67f4c9e8eb188e742e2e45bc518dbb5fda48e34d4ad99"),
      "freq" -> ("ff3eff5df8bcfe7f952102cb9bfc6ff3a0825ce47f521ef4be324e89dc786c77",
        "3274fbd96c10978042de561c1bd280a69648e29351d769543e26abb012c80213"),
      "cms" -> ("fc5ef558aaf11b2e0c735d1e3c5d2f0da85f296e6fbba7e6c7af9a84bfa46a79",
        "fc5ef558aaf11b2e0c735d1e3c5d2f0da85f296e6fbba7e6c7af9a84bfa46a79"))
    val got = families.map { case (fam, in) =>
      fam -> (sha256(agg(fam, in)), sha256(merged(fam, in)))
    }.toMap
    assert(got == want, s"sketch bytes changed: $got")
  }

  test("sketch merge: agg equals the merge of per-shard sketches on every read-out") {
    val sk = families.map { case (fam, in) => fam -> (agg(fam, in), merged(fam, in)) }.toMap
    def read(sql: String, a: Array[Byte], b: Array[Byte]) =
      Seq((a, b)).toDF("a", "b").select(expr(sql)).head.get(0)
    def both(fam: String, sqlOf: String => String) = {
      val (a, m) = sk(fam)
      (read(sqlOf("a"), a, m), read(sqlOf("b"), a, m))
    }

    Seq(0.1, 0.5, 0.9).foreach { q =>
      val (a, m) = both("kll", s => s"graft_kll_quantile($s, ${q}D)")
      assert(a == m, s"kll quantile $q: agg $a, merge $m")
    }
    Seq(10.0, 50.0, 90.0).foreach { v =>
      val (a, m) = both("kll", s => s"graft_kll_rank($s, ${v}D)")
      assert(a == m, s"kll rank $v: agg $a, merge $m")
    }

    val distinct = rows.map(_._2).distinct.size.toDouble
    val (ta, tm) = both("theta", s => s"graft_theta_est($s)")
    assert(ta == distinct && tm == distinct, s"theta est: agg $ta, merge $tm, exact $distinct")
    val (ta2, tm2) = sk("theta")
    assert(read("graft_theta_union_est(a, b)", ta2, tm2) == distinct)
    assert(read("graft_theta_inter_est(a, b)", ta2, tm2) == distinct)
    // two overlapping sets: the tokens of rows 0-19 and of rows 10-29
    // (20 distinct each, 10 shared)
    def theta(from: Int, until: Int) = rows.slice(from, until).map(_._2).toDF("token")
      .coalesce(1).agg(expr("graft_theta_agg(token)")).head.getAs[Array[Byte]](0)
    val (sa, sb) = (rows.slice(0, 20).map(_._2).toSet, rows.slice(10, 30).map(_._2).toSet)
    assert(sa.size == 20 && sb.size == 20 && (sa & sb).size == 10)
    val (skA, skB) = (theta(0, 20), theta(10, 30))
    assert(read("graft_theta_union_est(a, b)", skA, skB) == 30.0)
    assert(read("graft_theta_inter_est(a, b)", skA, skB) == 10.0)

    val (fa, fm) = both("freq", s => s"graft_freq_topk($s, 10)")
    assert(fa == fm, s"freq topk: agg $fa, merge $fm")
    assert(both("freq", s => s"graft_freq_maxerr($s)") == ((0L, 0L)))

    rows.map(_._2).distinct.foreach { t =>
      val (ca, cm) = both("cms", s => s"graft_cms_est($s, '$t')")
      assert(ca == cm && ca == rows.count(_._2 == t).toLong, s"cms est $t: agg $ca, merge $cm")
    }
    assert(both("cms", s => s"graft_cms_total($s)") == ((150L, 150L)))
  }
}
