package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Typed loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * `events.ts` is written as parquet INT64 TIMESTAMP(NANOS). Spark's
  * TimestampType is microsecond-precision; if this Spark build rejects
  * NANOS we re-read with `nanosAsLong` and truncate to micros — the same
  * truncation DuckDB applies casting ns → TIMESTAMP, so oracle
  * comparisons stay exact.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  // Integral DIV, not `/`: epoch-nanos (~1.7e18) exceeds double's 53-bit
  // mantissa, so float division here would drift timestamps by ±1 µs.
  private def nsLongToTs(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))

  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    try {
      val df = spark.read.parquet(path)
      if (df.schema("ts").dataType == LongType) nsLongToTs(df) else df
    } catch {
      // ONLY the nanos-precision rejection gets the legacy-conf retry;
      // a missing/corrupt file must surface its real error, not a
      // misleading second failure after a session-global conf mutation
      case e: Exception if e.getMessage != null &&
          e.getMessage.contains("TIMESTAMP(NANOS") =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        nsLongToTs(spark.read.parquet(path))
    }
  }

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
