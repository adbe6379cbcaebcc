package graft

import graft.operators.Overlap
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OverlapSpec extends SparkSpec {
  import spark.implicits._

  // Hand-built corpus with known vocabulary overlaps: s1 and s2 share
  // {b, c} of vocabularies {a,b,c} and {b,c,d}; s3 is disjoint.
  private def fixture = Seq(
    (1L, "a b c", "s1"), (2L, "b c a", "s1"),
    (3L, "b c d", "s2"), (4L, "d d b", "s2"),
    (5L, "x y z", "s3"), (6L, "z y", "s3"))
    .toDF("doc_id", "text", "source")

  test("overlap_exact: hand-derived intersections, jaccard in exact ppm") {
    val rows = Overlap.overlapExact(fixture)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // s1 vocab {a,b,c}, s2 vocab {b,c,d}: inter 2, union 4 → 500000 ppm
    assert(rows(("s1", "s2")) == (2L, 3L, 3L, 500000L))
    // s3 {x,y,z} is disjoint from both → no pair rows (inner join)
    assert(!rows.contains(("s1", "s3")) && !rows.contains(("s2", "s3")))
    assert(rows.size == 1)
  }

  test("overlap_exact: duplicate tokens within a source count once") {
    // "d d b" must not inflate s2's vocabulary or any intersection
    val d = Seq((1L, "q q q w", "sA"), (2L, "q w w", "sB"))
      .toDF("doc_id", "text", "source")
    val r = Overlap.overlapExact(d).collect()
    assert(r.length == 1)
    // both vocabularies are {q, w}: inter 2, union 2 → ppm 1000000
    assert(r(0).getLong(2) == 2L && r(0).getLong(3) == 2L &&
      r(0).getLong(4) == 2L && r(0).getLong(5) == 1000000L)
  }

  test("overlap_sketch: every estimate within 5% of the exact mode on the corpus") {
    val d = Tables(spark, sfDir, "documents")
    val exact = Overlap.overlapExact(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val est = Overlap.overlapSketch(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(est.keySet == exact.keySet,
      "sketch mode must produce the same source pairs")
    assert(exact.nonEmpty)
    exact.foreach { case (k, (inter, na, nb)) =>
      val (ie, nae, nbe) = est(k)
      assert(math.abs(ie - inter) <= 0.05 * inter,
        s"$k inter est $ie vs exact $inter")
      assert(math.abs(nae - na) <= 0.05 * na, s"$k n_a est $nae vs $na")
      assert(math.abs(nbe - nb) <= 0.05 * nb, s"$k n_b est $nbe vs $nb")
    }
  }

  test("theta sketches merge associatively: shard rollup equals one-shot build") {
    val d = Tables(spark, sfDir, "documents")
    // one-shot per-source sketches vs sketches built per (source, half)
    // then rolled up with graft_theta_merge — the shard→fleet contract
    val oneShot = Overlap.vocabSketches(d)
      .select(col("source"), expr("round(graft_theta_est(sk), 2)").as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sharded = d.withColumn("half", pmod(col("doc_id"), lit(2)))
    val rolled = Overlap.vocabSketches(sharded.filter(col("half") === 0))
      .unionByName(Overlap.vocabSketches(sharded.filter(col("half") === 1)))
      .groupBy(col("source")).agg(expr("graft_theta_merge(sk)").as("sk"))
      .select(col("source"), expr("round(graft_theta_est(sk), 2)").as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rolled == oneShot,
      "theta union must be associative over shard splits")
  }

  test("driver rows: one per intersecting unordered pair, both modes") {
    val ex = SparkEntry.queries("overlap_exact")(spark, sfDir)
    val sk = SparkEntry.queries("overlap_sketch")(spark, sfDir)
    val exRows = ex.collect()
    assert(exRows.nonEmpty)
    assert(exRows.forall(r => r.getString(0) < r.getString(1)),
      "pairs must be ordered src_a < src_b")
    assert(sk.collect().nonEmpty)
    assert(SparkEntry.oracleSql.contains("overlap_exact"))
    assert(!SparkEntry.oracleSql.contains("overlap_sketch"))
  }
}
