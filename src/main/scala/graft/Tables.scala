package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each driver table opens with its declared schema, the way a catalog
  * serves a table: the open lists the files and runs no Spark job. An
  * open without a schema runs one job per read to merge the parquet
  * footers (`ParquetUtils.inferSchema`), and every query pays it for
  * every table it reads. The declarations equal what Spark infers for
  * every scale factor of the test data; DeclaredSchemaSpec pins this,
  * so test data that drifts from a declaration fails there rather than
  * at a query's scan. Timestamps are stored as INT64 micros without UTC
  * adjustment, which Spark reads as TIMESTAMP_NTZ. A name outside
  * [[names]] (a caller's own parquet directory) is read with an
  * inferred schema.
  */
object Tables {
  private val ddl: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" ->
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  val names: Seq[String] = ddl.map(_._1)

  /** The declared schema of each driver table. */
  val schemas: Map[String, StructType] =
    ddl.map { case (n, d) => n -> StructType.fromDDL(d) }.toMap

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    schemas.get(name).fold(spark.read)(s => spark.read.schema(s))
      .parquet(s"$dir/$name.parquet")

  def events(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "events")

  /** Rebalance a frame for expensive per-row compute when the scan
    * yields fewer partitions than the session's parallelism — the
    * single-file / single-row-group case, where parquet cannot split
    * and an entire heavy narrow kernel would run in ONE task. At
    * cluster scale the input splits already cover the cores, the
    * condition is false, and no exchange is added — this must never
    * become an unconditional repartition (that exchange would carry
    * the corpus text; the Dedup signature-build history).
    *
    * Batch-only: physical planning is undefined on a streaming frame,
    * so streaming callers are refused up front with a clear message.
    *
    * The split count is read from the LEAF file scans only — never
    * `d.rdd`, which would convert the ENTIRE plan to an RDD chain
    * pre-AQE (freezing shuffle partitioning decisions AQE would
    * otherwise make). `FileSourceScanExec.inputRDD` is the leaf's lazy
    * FileScanRDD: building it runs no job and plans nothing above the
    * scan, and its partition count IS the parquet split count we are
    * testing. Non-file leaves (localCheckpoint RDD scans) report their
    * own RDD's count; any other leaf is assumed balanced (no exchange
    * added — the conservative direction, per the scaladoc above).
    */
  def rebalance(d: DataFrame): DataFrame = {
    require(!d.isStreaming,
      "Tables.rebalance is batch-only (physical planning is undefined " +
        "on a streaming DataFrame); streaming sources size partitions " +
        "via maxFilesPerTrigger / source options instead")
    val par = d.sparkSession.sparkContext.defaultParallelism
    val leafParts = d.queryExecution.sparkPlan.collectLeaves().map {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDD.getNumPartitions
      case r: org.apache.spark.sql.execution.RDDScanExec =>
        r.rdd.getNumPartitions
      case _ => par
    }
    if (leafParts.nonEmpty && leafParts.max < par) d.repartition(par) else d
  }

  /** Counted broadcast guard for a join side whose size grows with the
    * corpus: broadcast `d` only when its MEASURED row count `rows` is
    * at most `maxRows`; above the bound the count overrides any stats
    * estimate and the join is forced to a shuffled hash join (no sort
    * on either side). */
  def broadcastIfSmall(d: DataFrame, rows: Long, maxRows: Long): DataFrame =
    if (rows <= maxRows) broadcast(d) else d.hint("shuffle_hash")
}
