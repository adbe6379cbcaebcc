package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** sink_centroids — persistence for the frozen cluster model
  * (embed_cluster's fit plus cluster_prune's fences), the same
  * "derive once, probe forever" contract as sink_classifier: at
  * 100 TB the k-means fit is a bounded one-off on a corpus snapshot,
  * and every later shard/stream assigns and prunes against the frozen
  * bundle — refitting per ingest tick would make cluster ids drift
  * batch to batch and with them every downstream routing decision.
  *
  * Transparent bundle, two parquet frames:
  *   - centroids/  (cent_id int, cent_emb array<float>) — ≤ 4096 rows
  *   - thresholds/ (cluster long, prune_bin long) — the per-cluster
  *     prune fences; ABSENT rows mean "cluster prunes nothing" (the
  *     cluster_prune left-join contract), so an empty frame is a
  *     valid fence set.
  */
object CentroidStore {

  /** Bundle format version (`_graft_format` marker, shared
    * [[StoreMaintenance]] scheme). Version history:
    *
    *   - 1 — spherical-cosine centroids in float32, ties to the
    *     smaller cent_id; prune_bin indexes the fixed 4096-bin
    *     histogram over ccos ∈ [-1, 1] (operators.Cluster.CcosBins).
    *     Changing the bin count, the tie rule, or the similarity
    *     (cosine → dot) makes a persisted bundle assign/prune
    *     differently SILENTLY — the marker turns that into a loud
    *     refusal.
    */
  val FormatVersion = 1

  private val bundle = StoreMaintenance.Bundle("centroids", FormatVersion,
    "float32 cosine centroids (smaller-id ties) + 4096-bin ccos prune " +
      "fences")

  private val centSchema = StructType(Seq(
    StructField("cent_id", IntegerType, nullable = false),
    StructField("cent_emb", ArrayType(FloatType, containsNull = false))))

  private val thrSchema = StructType(Seq(
    StructField("cluster", LongType, nullable = false),
    StructField("prune_bin", LongType, nullable = false)))

  def write(spark: SparkSession, cents: Array[(Int, Array[Float])],
      thresholds: Map[Long, Long], path: String): Unit = {
    require(cents.nonEmpty, "centroid bundle must hold >= 1 centroid")
    val cRows: java.util.List[Row] = java.util.Arrays.asList(
      cents.map { case (id, emb) => Row(id, emb.toSeq) }: _*)
    val tRows: java.util.List[Row] = java.util.Arrays.asList(
      thresholds.toSeq.sortBy(_._1).map { case (c, b) => Row(c, b) }: _*)
    bundle.write(path, "overwrite")(
      StoreMaintenance.Frame("centroids",
        spark.createDataFrame(cRows, centSchema)),
      StoreMaintenance.Frame("thresholds",
        spark.createDataFrame(tRows, thrSchema)))
  }

  /** Reload the frozen centroids. Refuses a stale-format bundle. */
  def readCentroids(spark: SparkSession,
      path: String): Array[(Int, Array[Float])] = {
    val rows = bundle.read(spark, path, "centroids").collect()
    require(rows.nonEmpty, s"centroid bundle at $path is empty")
    rows.map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
  }

  /** Reload the frozen prune fences (possibly empty — see class doc). */
  def readThresholds(spark: SparkSession, path: String): Map[Long, Long] =
    bundle.read(spark, path, "thresholds").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
}
