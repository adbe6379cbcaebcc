package graft

import graft.plans.{CosineSimilarity, GraftFunctions, TopKStrategy}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types._

/** The production wiring: the factory session loads
  * `graft.plans.GraftExtensions`, which installs every kernel of the
  * one registry plus the top-k strategy — no runtime registration.
  */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects every kernel function") {
    val registry = spark.sessionState.functionRegistry
    val missing = GraftFunctions.all.map(_._1).filterNot(registry.functionExists)
    assert(missing.isEmpty, s"kernels not installed: $missing")
  }

  test("every graft.plans kernel, built from literal arguments, is named by its SQL name") {
    // an unaliased column is named `<prettyName>(<args>)`, so a kernel
    // whose prettyName drifts from its SQL name renames every such
    // column; the agg/merge flavors share one class and differ only
    // in how it is built
    val one = Literal(1)
    val floats = Literal.create(Seq(1.0f, 2.0f), ArrayType(FloatType))
    val strings = Literal.create(Seq("a b"), ArrayType(StringType))
    // the builders that evaluate a non-integer argument; every other
    // kernel gets the integer 1 at each position
    val args: Map[String, Seq[Expression]] = Map(
      "graft_cosine_i8" -> Seq(floats, Literal.create(Seq(1, 2), ArrayType(IntegerType))),
      "graft_bpe" -> Seq(strings, strings),
      "graft_unigram" -> Seq(strings, strings, Literal.create(Seq(0.5), ArrayType(DoubleType))),
      "graft_phrase_hits" -> Seq(strings, strings),
      "graft_pq_encode" -> Seq(floats, floats, one, one),
      "graft_pq_table" -> Seq(floats, floats, one, one),
      "graft_pq_cos" -> Seq(floats, floats, floats, one, one),
      "graft_pq_cos_t" -> Seq(floats, floats, floats, one, one))
    val kernels = GraftFunctions.all.filter(_._2.getClassName.startsWith("graft.plans."))
    assert(kernels.size == GraftFunctions.all.size - 2, "only the two bloom functions are Spark's")
    kernels.foreach { case (id, _, build) =>
      val built = build(args.getOrElse(id.funcName, Seq.fill(4)(one))) match {
        case a: AggregateExpression => a.aggregateFunction
        case e => e
      }
      assert(built.prettyName == id.funcName, s"${id.funcName} builds ${built.prettyName}")
    }
  }

  test("graft_cosine and graft_cosine_i8 build one class: NULL on a length mismatch, interpreted and generated alike") {
    val build = GraftFunctions.all.map(d => d._1.funcName -> d._3).toMap
    val q = Literal.create(Seq(1.0f, 2.0f), ArrayType(FloatType))
    val candidates = Seq(
      "graft_cosine" -> ((n: Int) => Literal.create(Seq.tabulate(n)(i => 10.0f * (i + 1)), ArrayType(FloatType))),
      "graft_cosine_i8" -> ((n: Int) => Literal.create(Seq.tabulate(n)(i => 10 * (i + 1)), ArrayType(IntegerType))))
    candidates.foreach { case (name, codes) =>
      def both(n: Int): (Any, Any) = {
        val e = build(name)(Seq(q, codes(n)))
        assert(e.isInstanceOf[CosineSimilarity], s"$name builds ${e.getClass}")
        val row = GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty)
        (e.eval(), if (row.isNullAt(0)) null else row.getDouble(0))
      }
      assert(both(3) == ((null, null)), s"$name: length mismatch must be NULL")
      val (interpreted, generated) = both(2)
      assert(math.abs(interpreted.asInstanceOf[Double] - 1.0) < 1e-12 && interpreted == generated,
        s"$name: interpreted $interpreted, generated $generated")
    }
  }

  test("the spec session carries the factory's config and strategies") {
    assert(spark.conf.get("spark.sql.codegen.maxFields") == "300")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(spark.sessionState.planner.strategies.contains(TopKStrategy))
  }

  test("injected kernels compute the expected values") {
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c, " +
        "graft_cosine_i8(array(1.0F, 2.0F), array(10, 20)) AS c8, " +
        "graft_lcs(array('a', 'b'), array('a', 'c')) AS l, " +
        "graft_stem(array('running')) AS st, " +
        "graft_simhash(array('x', 'y')) AS sh, " +
        "graft_minhash_sig(array('x', 'y', 'z', 'w')) AS mh, " +
        "graft_lsh_keys(array_repeat(CAST(1.0 AS FLOAT), 64), 4, 24, 5) AS lk, " +
        "graft_bleu_smooth(array(2L, 1L, 0L, 0L, 0L, 3L, 3L)) AS bs, " +
        "graft_deflate_len(CAST('aaaaaaaaaaaaaaaa' AS BINARY)) AS dl, " +
        "graft_f1_common(array('a', 'b', 'a'), array('a', 'a', 'c')) AS f1c, " +
        "graft_bpe(array('lowest'), array('e s', 'es t</w>', 'l o', 'lo w')) AS bp, " +
        "graft_pq_encode(array(1.0F, 2.0F), array(1.0F, 2.0F), 2, 1) AS pqe, " +
        "graft_pq_cos(array(1.0F, 2.0F), " +
        "  graft_pq_encode(array(1.0F, 2.0F), array(1.0F, 2.0F), 2, 1), " +
        "  array(1.0F, 2.0F), 2, 1) AS pqc, " +
        "graft_media_meta(CAST('nope' AS BINARY)) AS mm, " +
        "graft_phrase_hits(array('a', 'b', 'a', 'b'), array('a', 'b')) AS ph, " +
        "graft_span_corrupt(array('a'), 0L) AS sc")
      .head()
    assert(math.abs(r.getAs[Double]("c") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("c8") - 1.0) < 1e-12)
    assert(r.getAs[Long]("l") == 1L)
    assert(r.getAs[collection.Seq[String]]("st").toSeq == Seq("run"))
    assert(r.getAs[collection.Seq[Long]]("mh").length == 32)
    assert(r.getAs[collection.Seq[Long]]("lk").length == 4)
    val bs = r.getAs[Double]("bs")
    assert(bs > 0.0 && bs <= 1.0, s"bleu $bs out of range")
    val dl = r.getAs[Long]("dl")
    assert(dl > 0L && dl < 16L, s"deflate of 16 repeated bytes: $dl")
    assert(r.getAs[Long]("f1c") == 2L) // multiset: min(2,2 a's) + 0

    assert(r.getAs[collection.Seq[String]]("bp").toSeq ==
      Seq("low", "est</w>"))
    assert(r.getAs[collection.Seq[Int]]("pqe").toSeq == Seq(0, 0))
    assert(math.abs(r.getAs[Double]("pqc") - 1.0) < 1e-12)
    assert(r.getAs[collection.Seq[Long]]("mm").toSeq ==
      Seq(0L, 0L, 0L, 0L, 0L, 0L))
    assert(r.getAs[collection.Seq[Int]]("ph").toSeq == Seq(0, 2))
    val sc = r.getAs[collection.Seq[collection.Seq[String]]]("sc")
    assert(sc(0).toSeq == Seq("a") && sc(1).isEmpty)
  }
}
