package graft

import org.apache.spark.sql.functions._

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)), // identical → 1
    (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)), // orthogonal → 0
    (3L, Array(1.0f, 2.0f, 3.0f), Array(-1.0f, -2.0f, -3.0f)) // opposite → -1
  ).toDF("id", "a", "b")

  test("native cosine matches closed-form values") {
    val out = df.select($"id", expr("graft_cosine(a, b)").as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(math.abs(out(2L)) < 1e-12)
    assert(math.abs(out(3L) + 1.0) < 1e-12)
  }

  test("native cosine is bit-identical to the HOF composition") {
    val e = Tables(spark, sfDir, "embeddings").limit(100)
    val a = e.select($"vec_id", $"embedding".as("q_emb"))
    val b = e.select(($"vec_id" + 1).as("vec_id"), $"embedding".as("c_emb"))
    val both = a.join(b, "vec_id")
      .withColumn("native", expr("graft_cosine(q_emb, c_emb)"))
      .withColumn("hof",
        expr("aggregate(zip_with(q_emb, c_emb, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (acc, x) -> acc + x)")
          / (expr("sqrt(aggregate(q_emb, 0D, (acc, x) -> acc + cast(x AS double) * cast(x AS double)))")
            * expr("sqrt(aggregate(c_emb, 0D, (acc, x) -> acc + cast(x AS double) * cast(x AS double)))")))
    assert(both.filter($"native" =!= $"hof").count() == 0)
  }

  test("null inputs yield null, and codegen path is exercised") {
    val withNull = Seq((Some(Array(1.0f)), None: Option[Array[Float]]))
      .toDF("a", "b")
      .select(expr("graft_cosine(a, b)").as("cos"))
    assert(withNull.head().isNullAt(0))
    // whole-stage codegen spans the fused loop (parquet-backed scan;
    // a local Seq relation would fold to LocalTableScan)
    val plan = Tables(spark, sfDir, "embeddings")
      .select(expr("graft_cosine(embedding, embedding)"))
      .queryExecution.executedPlan.toString
    // the "*(1)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [graft_cosine"))
  }

  test("pq kernels: hand codebook encode + ADC cosine, ties and guards") {
    // m=2 subspaces × k=2 centroids × dsub=2, subspace-major flat:
    //   j0: c0=(1,0)  c1=(0,1)      j1: c0=(1,1)  c1=(0,2)
    val cb = Array(1.0f, 0.0f, 0.0f, 1.0f, 1.0f, 1.0f, 0.0f, 2.0f)
    val rows = Seq(
      (1L, Array(0.9f, 0.1f, 0.4f, 0.7f)),  // → codes [0,0]
      (2L, Array(0.1f, 0.9f, 0.1f, 1.8f)),  // → codes [1,1]
      (3L, Array(0.5f, 0.5f, 0.0f, 0.0f)))  // sub0 equidistant → tie → 0
      .toDF("id", "v")
      .withColumn("codes", call_function("graft_pq_encode",
        $"v", lit(cb), lit(2), lit(2)))
      .withColumn("cos", call_function("graft_pq_cos",
        $"v", $"codes", lit(cb), lit(2), lit(2)))
    val out = rows.collect()
      .map(r => r.getLong(0) ->
        (r.getAs[collection.Seq[Int]]("codes").toList,
          r.getAs[Double]("cos"))).toMap
    assert(out(1L)._1 == List(0, 0), out(1L)._1.toString)
    assert(out(2L)._1 == List(1, 1), out(2L)._1.toString)
    assert(out(3L)._1.head == 0, "L2 tie must break to the smaller id")
    // ADC cosine vs hand math: recon(1) = (1,0,1,1)
    val x = Array(0.9f, 0.1f, 0.4f, 0.7f).map(_.toDouble)
    val expect = (x(0) + x(2) + x(3)) /
      (math.sqrt(x.map(v => v * v).sum) * math.sqrt(3.0))
    assert(math.abs(out(1L)._2 - expect) < 1e-12, s"${out(1L)._2} vs $expect")
    // dimension mismatch → NULL, never a plausible code
    val bad = Seq((9L, Array(1.0f, 2.0f, 3.0f))).toDF("id", "v")
      .withColumn("codes", call_function("graft_pq_encode",
        $"v", lit(cb), lit(2), lit(2)))
      .collect().head
    assert(bad.isNullAt(bad.fieldIndex("codes")),
      "length-3 vector must not encode under dsub=2")
  }

  test("embed_hash: unit-norm signed hashing, Scala mirror exact, copies identical") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "join hash row batch scan column"),
      (2L, "join hash row batch scan column"), // exact copy of 1
      (3L, "join hash row batch scan filter"), // near copy (5/6 shared)
      (4L, "alpha bravo charlie delta echo foxtrot")) // unrelated
      .toDF("doc_id", "text")
    val vecs = docs
      .select(col("doc_id"),
        expr("graft_hash_embed(split(text, ' '))").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // Scala mirror of the kernel (same XXH64 seed-42, bucket/sign split)
    def mirror(text: String): Array[Float] = {
      val acc = new Array[Double](graft.plans.HashEmbed.Dim)
      text.split(" ").filter(_.nonEmpty).foreach { t =>
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(t)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
        val b = ((h >>> 1) % graft.plans.HashEmbed.Dim).toInt
        acc(b) += (if ((h & 1L) == 0L) 1.0 else -1.0)
      }
      val n = math.sqrt(acc.map(x => x * x).sum)
      acc.map(x => if (n > 0) (x / n).toFloat else 0f)
    }
    docs.collect().foreach { r =>
      assert(vecs(r.getLong(0)).sameElements(mirror(r.getString(1))),
        s"doc ${r.getLong(0)} diverges from the mirror")
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    // unit norm (zero-vector guard aside), copies identical
    vecs.values.foreach(v => assert(math.abs(cos(v, v) - 1.0) < 1e-6))
    assert(vecs(1L).sameElements(vecs(2L)))
    // the hashed space separates near-copies from unrelated docs
    assert(cos(vecs(1L), vecs(3L)) > 0.6, s"${cos(vecs(1L), vecs(3L))}")
    assert(cos(vecs(1L), vecs(4L)) < 0.5, s"${cos(vecs(1L), vecs(4L))}")
  }

  test("embed_hash: hashed text vectors drive semanticDedup end-to-end") {
    import org.apache.spark.sql.functions._
    // planted exact-copy pair inside the real corpus text space: the
    // bridge must let the embedding ladder find it with NO embeddings
    // table in sight
    val base = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(40)
    val copy = base.filter(col("doc_id") === 7L)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    val e = base.unionByName(copy)
      .select(col("doc_id").as("vec_id"),
        expr("graft_hash_embed(split(text, ' '))").as("embedding"))
    val out = operators.Similarity.semanticDedup(e, k = 4).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("keep")).toMap
    assert(out(7L) == 1L, "the smaller id keeps")
    assert(out(10007L) == 0L, "the planted copy must drop")
  }

  test("embed_hash driver query: digests deterministic, norms unit") {
    val out = SparkEntry.queries("embed_hash")(spark, sfDir).collect()
    assert(out.length == Tables(spark, sfDir, "documents").count())
    out.foreach { r =>
      assert(r.getAs[Long]("dim") == 64L)
      val nsq = r.getAs[Double]("norm_sq")
      assert(math.abs(nsq - 1.0) < 1e-4 || nsq == 0.0, s"$r")
      assert(r.getAs[Long]("nnz") > 0L && r.getAs[Long]("nnz") <= 64L)
    }
    val again = SparkEntry.queries("embed_hash")(spark, sfDir).collect()
      .map(_.getAs[String]("emb_digest"))
    assert(again.sameElements(out.map(_.getAs[String]("emb_digest"))))
  }

  test("embed_audit: planted NaN/Inf/zero/ragged vectors land in the right counters") {
    import spark.implicits._
    val e = Seq(
      (0, Seq(3f, 4f)),                        // norm2 25
      (0, Seq(0f, 0f)),                        // zero norm
      (0, Seq(Float.NaN, 1f)),                 // poisoned
      (1, Seq(1f, 2f, 2f)),                    // norm2 9, dim 3
      (2, Seq(Float.PositiveInfinity, 0f)),    // label with no finite row
      (3, Seq(1f)), (3, Seq(1f, 0f)))          // ragged dims
      .toDF("label", "embedding")
    val out = graft.operators.Similarity.embedAudit(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))).toMap
    assert(out(0L) == (3L, 2L, 2L, 1L, 1L, 0L, 25000000L, 12500000L))
    assert(out(1L) == (1L, 3L, 3L, 0L, 0L, 9000000L, 9000000L, 9000000L))
    assert(out(2L) == (1L, 2L, 2L, 1L, 0L, -1L, -1L, -1L))
    assert(out(3L) == (2L, 1L, 2L, 0L, 0L, 1000000L, 1000000L, 1000000L))
  }

  test("embed_audit corpus invariants: all-finite, constant dim, positive norms, counts tile") {
    val rows = SparkEntry.queries("embed_audit")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = graft.Tables(spark, sfDir, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(2) == 64L && r.getLong(3) == 64L) // constant dim
      assert(r.getLong(4) == 0L && r.getLong(5) == 0L)   // clean corpus
      assert(r.getLong(6) > 0L &&
        r.getLong(6) <= r.getLong(8) && r.getLong(8) <= r.getLong(7))
    }
  }
}
