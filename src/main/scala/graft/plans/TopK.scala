package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending, SortOrder}
import org.apache.spark.sql.types.LongType

/** User-facing API for the TopKPerKey operator. Appends a long rank
  * column (1..k within each key, ordered by `order`).
  *
  * {{{
  * TopK.perKey(scored, keys = Seq("q_id"),
  *   order = Seq("cos" -> Desc, "c_id" -> Asc), k = 5)
  * }}}
  */
object TopK {
  val Desc = true
  val Asc = false

  def perKey(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
      k: Int, rankName: String = "rk"): DataFrame = {
    require(k > 0, "k must be positive")
    require(keys.nonEmpty,
      "keys must be non-empty (global top-k: use orderBy(...).limit(k))")
    val plan = GraftSqlBridge.analyzed(df)
    def attr(n: String) = plan.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$n' in ${plan.output.map(_.name).mkString(", ")}"))
    val sortOrders = order.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    val rankAttr = AttributeReference(rankName, LongType, nullable = false)()
    GraftSqlBridge.ofRows(df.sparkSession,
      TopKPerKeyPlan(keys.map(attr), sortOrders, k, rankAttr, plan))
  }
}
