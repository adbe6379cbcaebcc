package graft

import graft.plans.TopK
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("TopK.perKey matches window row_number on orders (top 3 per customer)") {
    val orders = Tables(spark, sfDir, "orders")
    val custom = TopK.perKey(orders, Seq("o_custkey"),
      Seq("o_totalprice" -> TopK.Desc, "o_orderkey" -> TopK.Asc), 3)
      .select($"o_custkey", $"o_orderkey", $"rk")
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    val windowed = orders
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"o_custkey", $"o_orderkey", $"rk")
    assert(custom.exceptAll(windowed).count() == 0)
    assert(windowed.exceptAll(custom).count() == 0)
  }

  test("physical plan uses the two-phase heap operator, not a window") {
    val orders = Tables(spark, sfDir, "orders")
    val df = TopK.perKey(orders, Seq("o_custkey"),
      Seq("o_totalprice" -> TopK.Desc, "o_orderkey" -> TopK.Asc), 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyPartial"), plan)
    assert(plan.contains("TopKPerKeyFinal"), plan)
    assert(!plan.contains("Window"), "should not plan a window")
  }

  test("rank is dense 1..k per key and respects ordering") {
    val df = TopK.perKey(Tables(spark, sfDir, "lineitem"), Seq("l_orderkey"),
      Seq("l_extendedprice" -> TopK.Desc, "l_linenumber" -> TopK.Asc), 2)
    val bad = df.groupBy($"l_orderkey")
      .agg(collect_list($"rk").as("rks"), count(lit(1)).as("n"))
      .filter(!($"n" <= 2 && (size($"rks") === $"n")))
      .count()
    assert(bad == 0)
    // max rank never exceeds k, min rank is 1
    val agg = df.agg(max($"rk"), min($"rk")).head()
    assert(agg.getLong(0) <= 2 && agg.getLong(1) == 1L)
  }

  test("PushFilterThroughTopK pushes key filters below the operator") {
    // the factory session runs the rule in its optimizer
    val topk = TopK.perKey(Tables(spark, sfDir, "orders"), Seq("o_custkey"),
      Seq("o_totalprice" -> TopK.Desc, "o_orderkey" -> TopK.Asc), 3)
    def filterBelowTopK(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst {
        case t: graft.plans.TopKPerKeyPlan =>
          t.child.exists(_.isInstanceOf[Filter])
      }.get
    val keyed = topk.filter($"o_custkey" < 50)
    assert(filterBelowTopK(keyed), keyed.queryExecution.optimizedPlan)
    // nondeterministic: below the top-k it would change the survivors
    val sampled = topk.filter(rand(7) < 0.5)
    assert(!filterBelowTopK(sampled), sampled.queryExecution.optimizedPlan)
    assert(sampled.queryExecution.optimizedPlan.collectFirst {
      case Filter(_, _: graft.plans.TopKPerKeyPlan) => true
    }.isDefined, sampled.queryExecution.optimizedPlan)
  }

  test("correctness on a tiny hand fixture with ties") {
    val df = Seq(
      ("a", 10, 1), ("a", 10, 2), ("a", 9, 3), ("a", 8, 4),
      ("b", 5, 1)).toDF("k", "v", "id")
    val out = TopK.perKey(df, Seq("k"), Seq("v" -> TopK.Desc, "id" -> TopK.Asc), 2)
      .select($"k", $"id", $"rk").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(out == Set(("a", 1, 1L), ("a", 2, 2L), ("b", 1, 1L)))
  }
}
