package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One inventory row from SURVEY.md §2: a Spark query plus (when the
  * semantics are ANSI-expressible) a DuckDB oracle over the same tables.
  */
final case class Op(
    name: String,
    query: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object Fns {
  /** Exactness convention for every sum/avg the oracle compares: money
    * columns carry at most 2 decimals, so `round(x*100)` is an exact
    * integer and LONG sums are order-independent — double summation
    * would drift with partition order, and decimal summation is exact
    * but runs on boxed BigDecimal (8-20× slower than codegen'd long
    * adds at bench time). The one float op per row (x*100, then round)
    * is bit-identical across engines.
    */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** SQL twin of [[cents]] (DuckDB). */
  def centsSql(e: String): String = s"CAST(ROUND($e * 100) AS BIGINT)"

  /** Exact money sum as double (long cents / 100.0). */
  def sumMoney(c: Column): Column = sum(cents(c)) / 100.0
  def sumMoneySql(e: String): String =
    s"(SUM(${centsSql(e)}) / 100.0)"
}
